"""Query catalog: every operator from SURVEY.md §2 expressed as a
(Spark DataFrame builder, DuckDB oracle SQL) pair over the driver's
TPC-H-ish testdata tables.

This is the correctness gate's surface: the driver runs each Spark
query AND its oracle side-by-side at sf=0.01 and hash-compares
row-count + schema + values (order-insensitive, columns sorted by
name). Rules applied throughout:

- every computed column is aliased IDENTICALLY in both the Spark code
  and the SQL;
- money/value aggregates are computed on DECIMAL (exact,
  order-independent) and emitted as SCALED INTEGERS (`*_e2` = cents,
  `*_e4`, `*_e6`) — never as a final decimal→double cast: Spark
  (correctly-rounded BigDecimal.doubleValue) and DuckDB (int/scale
  division) round decimal→double differently at the last ulp, which
  the driver's bit-exact hash rejects (bit us on q34 in round 1).
  Where a fractional output is genuinely wanted (avg_qty), it is
  derived from the exact integer via the SAME sequence of IEEE double
  ops on both sides (bigint→double, /100.0, /count), which is
  bit-portable;
- LIMIT queries are fully ordered by a unique key so the selected
  row set is deterministic.

Scale notes are inline per query: each is written as the plan we'd
want at 100 TB (broadcast dims, partial aggs, pushed filters), not
just the first plan that passes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _embeddings_index(
    spark: SparkSession, sf_dir: str, centroid_ids: list[int] | None = None
):
    """Stored ANN index for the sf_dir's embeddings table — the
    deployment shape of retrieval (store/vector_index.py): the FIRST
    run per corpus pays the encode and persists PQ codes + codebook +
    int8 codes as warehouse artifacts; every later run (any session,
    any process) serves pure index reads — no encode stage in the
    plan. The cache key is the corpus path and the fingerprint is its
    file stat, so a re-generated testdata dir triggers a rebuild
    instead of serving stale codes."""
    import hashlib
    import os
    import tempfile

    from queens_spark.store.vector_index import (
        build_or_load_vector_index,
        source_fingerprint,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    key = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    index_dir = os.path.join(
        tempfile.gettempdir(), "queens_spark_vindex", key
    )
    return build_or_load_vector_index(
        lambda: load(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        "embeddings",
        index_dir,
        fingerprint=source_fingerprint(src),
        spark=spark,
        n_seeds=16,
        # label rides the codes/assignment artifacts so filtered
        # searches (q109) push their predicate into the index scan
        meta_cols=["label"],
        # With cells requested (q108/q109), an index built without
        # IVF upgrades in place; callers that omit them (q103) keep
        # serving the upgraded index unchanged. Cells are TRAINED
        # (one integer Lloyd round over the seed pick — q120 proves
        # the training bit-identical to the oracles' unrolled chain):
        # the deployment posture, since untrained seed cells skew and
        # a hot cell breaks the n_probe/n_cells probe-scan bound.
        **(
            {"centroid_ids": centroid_ids, "coarse_iters": 1}
            if centroid_ids
            else {}
        ),
    )


def _documents_text_index(spark: SparkSession, sf_dir: str):
    """Stored lexical (postings) index for the sf_dir's documents
    table — the deployment shape of keyword retrieval
    (store/text_index.py), twin of :func:`_embeddings_index`: the
    FIRST run per corpus pays the tokenize pass and persists
    bucket-partitioned (id, token, tf, dl) postings + manifest stats;
    every later run (any session, any process) serves BM25 from a
    bucket-pruned postings scan — no tokenize stage, no corpus-stats
    pass, no touch of documents.parquet in the plan. The fingerprint
    is the corpus file's stat, so regenerated testdata rebuilds
    instead of serving stale postings."""
    import hashlib
    import os
    import tempfile

    from queens_spark.store.text_index import build_or_load_text_index
    from queens_spark.store.vector_index import source_fingerprint

    src = os.path.join(sf_dir, "documents.parquet")
    key = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    index_dir = os.path.join(
        tempfile.gettempdir(), "queens_spark_tindex", key
    )
    return build_or_load_text_index(
        lambda: load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        "documents",
        index_dir,
        fingerprint=source_fingerprint(src),
        spark=spark,
        # source/lang ride the postings rows (denormalized like dl) so
        # filtered searches (q122) push their predicate into the
        # pruned scan — no documents join; positional postings enable
        # exact phrase search (q123) and change no BM25 arithmetic
        meta_cols=["source", "lang"],
        positions=True,
    )


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table == "documents":
        # Shingling/hashing over documents is per-row heavy, and the
        # table ships as one row group: spread it so the compute uses
        # every core. No-op once the scan yields enough partitions.
        # (embeddings is deliberately NOT spread: its vector math is
        # cheap enough that a repartition costs more than it saves.)
        # The spread decision comes from the file footprint (os.stat),
        # not df.rdd.getNumPartitions(): the RDD conversion is a
        # driver-side analysis pass that costs more than most of the
        # queries reading this table. Equivalent at both ends of the
        # scale — a file under maxPartitionBytes×parallelism scans as
        # fewer splits than cores (repartition, as before), a 100 TB
        # table always exceeds it (no-op, as before); in between a
        # repartition only redistributes rows, never changes results.
        import os as _os

        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        path = f"{sf_dir}/{table}.parquet"
        try:
            if _os.path.isdir(path):
                size = sum(
                    e.stat().st_size for e in _os.scandir(path)
                    if e.is_file()
                )
            else:
                size = _os.path.getsize(path)
        except OSError:
            size = 0
        target = spark.sparkContext.defaultParallelism
        try:
            max_pb = int(
                spark.conf.get(
                    "spark.sql.files.maxPartitionBytes",
                    str(128 * 1024 * 1024),
                )
            )
        except ValueError:  # suffixed form like "128m"
            max_pb = 128 * 1024 * 1024
        if size < max_pb * target:
            return df.repartition(target)
        return df
    if table == "events":
        # events.ts has shipped as either a nanosecond INT64 (older
        # generators — Spark rejects nanos by default, so read raw and
        # truncate to micros) or a plain parquet TIMESTAMP. Normalize
        # both to a session-zone (UTC) microsecond timestamp.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type.startswith("timestamp_ntz"):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _dec(col, scale: int = 2):
    """Exact decimal view of a double column for order-independent sums."""
    return F.col(col).cast(f"decimal(18,{scale})")


#: _barrier() persists a multi-consumer derived frame only above this
#: source footprint. Below it the duplicated subtree (a pruned scan +
#: map-side agg per extra consumer) is cheaper than a columnar cache
#: build — measured solo at sf0.1: persisting these frames cost +9% to
#: +50% per query. Above it a duplicate corpus scan dominates any
#: user-width cache build, so the barrier flips on. Overridable for
#: deployments whose storage/memory ratio differs.
_BARRIER_MIN_SRC_BYTES = 256 * 1024 * 1024


def _barrier(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """Size-gated persist for a derived frame with several consumers.

    Without a barrier, every reference to the frame re-runs its whole
    upstream (scan included); runtime exchange reuse does NOT recover
    the duplicates here (join-side null filters make the subtrees
    non-identical). Whether the barrier pays depends on the source
    size — the decision sums the sizes of every file under the parquet
    path (os.walk, so a hive-partitioned directory counts its
    partition files), so the same code is a no-op on a small input
    and a single-computation barrier on a 100 TB one. Results are
    identical either way (persist is semantics-free).

    A persisted frame is registered with ``dedup._persist``: call
    ``operators.dedup.release_caches()`` once its results are
    materialized, or the cache outlives the query."""
    import os as _os

    path = f"{sf_dir}/{table}.parquet"
    try:
        if _os.path.isdir(path):
            size = sum(
                _os.path.getsize(_os.path.join(d, f))
                for d, _, files in _os.walk(path) for f in files
            )
        else:
            size = _os.path.getsize(path)
    except OSError:
        size = 0
    try:
        threshold = int(
            _os.environ.get(
                "QS_BARRIER_MIN_SRC_BYTES", str(_BARRIER_MIN_SRC_BYTES)
            )
        )
    except ValueError:  # suffixed form like "256m"
        threshold = _BARRIER_MIN_SRC_BYTES
    if size >= threshold:
        from queens_spark.operators.dedup import _persist

        return _persist(df)
    return df


# =====================================================================
# Aggregations (SURVEY §2.4) + scan/filter pushdown (S3/S4)
# =====================================================================

@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_e2,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_price_e2,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT) AS sum_disc_price_e4,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) * 1000000 AS BIGINT) AS sum_charge_e6,
           CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 / COUNT(*) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark, sf_dir):
    """Flagship: TPC-H-Q1-style pricing summary.

    Scale: filter pushed to the parquet scan; hash partial agg on 2
    low-cardinality keys → map-side combine shrinks the shuffle to
    ~|groups|×partitions rows. Decimal sums keep results exact.

    Scaled-integer output bound: sum_charge_e6 (micro-units in int64)
    holds to ~9.2e12 charge units per group — ≈ sf 1.5e3 for
    TPC-H-shaped data (sum_charge ≈ 5.5e10·sf / 6 groups). Past that,
    emit coarser scaling (e2) or keep the DECIMAL column; the non-ANSI
    long cast would otherwise null on overflow while the oracle
    errors.
    """
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    sum_qty_e2 = (F.sum(_dec("l_quantity")) * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty_e2.alias("sum_qty_e2"),
            (F.sum(_dec("l_extendedprice")) * 100).cast("long").alias("sum_base_price_e2"),
            (F.sum(disc) * 10000).cast("long").alias("sum_disc_price_e4"),
            (F.sum(disc * (F.lit(1) + _dec("l_tax"))) * 1000000).cast("long").alias("sum_charge_e6"),
            (sum_qty_e2.cast("double") / F.lit(100.0) / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q02_group_max",
    """
    SELECT event_type,
           epoch_us(MAX(ts)) AS max_ts_us,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q02_group_max(spark, sf_dir):
    """A1 version-resolution shape: group-max over the log-like table.
    Timestamp returned as epoch-microseconds so the value is exact on
    both engines regardless of timestamp precision."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.unix_micros(F.max("ts")).alias("max_ts_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "q03_info_report",
    """
    SELECT o_orderpriority,
           MIN(o_orderdate) AS min_date,
           MAX(o_orderdate) AS max_date,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_price_e2
    FROM orders GROUP BY o_orderpriority
    """,
)
def q03_info_report(spark, sf_dir):
    """A3 info-report shape: per-group min/max/count span."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(_dec("o_totalprice")) * 100).cast("long").alias("total_price_e2"),
        )
    )


@register(
    "q04_profile_stats",
    """
    SELECT 'c_custkey' AS column_name, COUNT(c_custkey) AS n_non_nulls, COUNT(DISTINCT c_custkey) AS n_unique FROM customer
    UNION ALL
    SELECT 'c_name', COUNT(c_name), COUNT(DISTINCT c_name) FROM customer
    UNION ALL
    SELECT 'c_nationkey', COUNT(c_nationkey), COUNT(DISTINCT c_nationkey) FROM customer
    UNION ALL
    SELECT 'c_acctbal', COUNT(c_acctbal), COUNT(DISTINCT c_acctbal) FROM customer
    UNION ALL
    SELECT 'c_mktsegment', COUNT(c_mktsegment), COUNT(DISTINCT c_mktsegment) FROM customer
    """,
)
def q04_profile_stats(spark, sf_dir):
    """A2 metadata profiling: per-column count + exact distinct in ONE
    pass over the table, unpivoted to long (the warehouse's
    refresh_metadata uses the same plan shape)."""
    cust = load(spark, sf_dir, "customer")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    aggs = []
    for c in cols:
        aggs += [F.count(F.col(c)).alias(f"nn__{c}"),
                 F.countDistinct(F.col(c)).alias(f"nu__{c}")]
    wide = cust.agg(*aggs)
    pairs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"nn__{c}").alias("n_non_nulls"),
            F.col(f"nu__{c}").alias("n_unique"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*pairs)).alias("s")).select(
        "s.column_name", "s.n_non_nulls", "s.n_unique"
    )


@register(
    "q05_dup_detection",
    """
    SELECT l_orderkey, l_partkey, l_suppkey, COUNT(*) AS n
    FROM lineitem
    GROUP BY l_orderkey, l_partkey, l_suppkey
    HAVING COUNT(*) > 1
    """,
)
def q05_dup_detection(spark, sf_dir):
    """A5 duplicate detection: hash-groupBy on the candidate key."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_partkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


@register(
    "q06_pivot",
    """
    SELECT n_name,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q06_pivot(spark, sf_dir):
    """A4/R7 cross-tab: groupBy().pivot() with an explicit value list
    (no extra distinct pass to discover pivot values — matters at scale).
    Dims broadcast."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


# =====================================================================
# Joins (SURVEY §2.3)
# =====================================================================

@register(
    "q07_star_join",
    """
    SELECT r_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT) AS revenue_e4,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q07_star_join(spark, sf_dir):
    """J-family star join. Only GENUINE dimension tables (nation: 25
    rows, region: 5 rows — fixed size at every sf) carry a broadcast
    hint. orders and customer are sf-scaled fact/near-fact tables:
    forcing them into a broadcast would OOM the driver at 100 TB, so
    their join strategy is left to AQE/statistics (shuffle join at
    scale, auto-broadcast when small enough locally). The dims are
    joined to customer BEFORE the fact join so the enriched side
    stays one pipeline."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    cust_geo = (
        cust.select("c_custkey", "c_nationkey")
        .join(F.broadcast(nation.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "r_name")
    )
    return (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_geo, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name")
        .agg(
            (F.sum(revenue) * 10000).cast("long").alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q08_modular_template_join",
    """
    SELECT s_name,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS qty_e2
    FROM (SELECT l_quantity, (l_orderkey % 10) + 1 AS row_mod FROM lineitem) t
    JOIN supplier ON row_mod = s_suppkey
    GROUP BY s_name
    """,
)
def q08_modular_template_join(spark, sf_dir):
    """J3 modular-key template attach: row_mod = key % |template|,
    broadcast inner join against the tiny template table."""
    li = load(spark, sf_dir, "lineitem").withColumn(
        "row_mod", (F.col("l_orderkey") % 10) + 1
    )
    supp = load(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(supp), li.row_mod == supp.s_suppkey, "inner")
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(_dec("l_quantity")) * 100).cast("long").alias("qty_e2"),
        )
    )


# =====================================================================
# Windows (SURVEY §2.5)
# =====================================================================

@register(
    "q09_latest_per_key",
    """
    SELECT user_id, event_id, event_type, value
    FROM (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
        FROM events
    ) WHERE rk = 1
    """,
)
def q09_latest_per_key(spark, sf_dir):
    """W3 latest-version-per-key (the staging snapshot semantics):
    row_number over (key, desc ts). One shuffle on the key; at scale
    this is the same plan as raw→prod staging."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


@register(
    "q10_ffill",
    """
    SELECT event_id, user_id,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    )
    """,
)
def q10_ffill(spark, sf_dir):
    """W1 forward-fill: last non-null over an ordered row window."""
    ev = load(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id",
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "q11_row_ordinal",
    """
    SELECT o_orderkey, o_custkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
    """,
)
def q11_row_ordinal(spark, sf_dir):
    """W2 deterministic row-ordinal generation per group."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.row_number().over(w).alias("rn")
    )


# =====================================================================
# Filters / DSL / projections (SURVEY §2.2), sorts & pagination (§2.6)
# =====================================================================

@register(
    "q12_filter_dsl",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity
    FROM lineitem
    WHERE lower(l_returnflag) = lower('N')
      AND (lower(l_linestatus) = lower('o') OR l_quantity >= 30.0)
    """,
)
def q12_filter_dsl(spark, sf_dir):
    """P1-P4 the JSON filter DSL compiled to a Column tree, including
    NOCASE text equality and (base AND) AND (OR-group) composition.
    Goes through the engine's real normalize→validate→compile path."""
    from queens_spark.core.filters import build_filter_expr
    from queens_spark.core.schema import CollectionSchema, ColumnSpec

    schema = CollectionSchema(
        "lineitem",
        [
            ColumnSpec("l_orderkey", "INTEGER", False),
            ColumnSpec("l_linenumber", "INTEGER", False),
            ColumnSpec("l_returnflag", "TEXT"),
            ColumnSpec("l_linestatus", "TEXT"),
            ColumnSpec("l_quantity", "REAL"),
        ],
    )
    expr = build_filter_expr(
        {"l_returnflag": "N",
         "$or": [{"l_linestatus": "o"}, {"l_quantity": {"gte": "30"}}]},
        schema,
    )
    return load(spark, sf_dir, "lineitem").where(expr).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity"
    )


@register(
    "q13_like_nocase",
    """
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_name ILIKE '%red%' AND lower(p_brand) <> lower('BRAND#13')
    """,
)
def q13_like_nocase(spark, sf_dir):
    """P3 case-insensitive LIKE + NOCASE inequality."""
    from queens_spark.core.filters import build_filter_expr
    from queens_spark.core.schema import CollectionSchema, ColumnSpec

    schema = CollectionSchema(
        "part",
        [ColumnSpec("p_partkey", "INTEGER", False),
         ColumnSpec("p_name", "TEXT"), ColumnSpec("p_brand", "TEXT")],
    )
    expr = build_filter_expr(
        {"p_name": {"like": "%red%"}, "p_brand": {"neq": "BRAND#13"}}, schema
    )
    return load(spark, sf_dir, "part").where(expr).select(
        "p_partkey", "p_name", "p_brand"
    )


@register(
    "q14_distinct",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q14_distinct(spark, sf_dir):
    """P8 DISTINCT projection."""
    return load(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "q15_topn",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def q15_topn(spark, sf_dir):
    """O1/O3 ordered limit — Spark plans this as TakeOrderedAndProject
    (per-partition top-N + driver merge), no full sort at scale."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


@register(
    "q16_keyset_page",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey > 3000
    ORDER BY l_orderkey, l_linenumber
    LIMIT 500
    """,
)
def q16_keyset_page(spark, sf_dir):
    """O2 keyset pagination: cursor predicate pushed into the scan +
    ordered limit over the unique key — page N never rescans pages
    1..N-1 (unlike OFFSET)."""
    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") > 3000)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    )


# =====================================================================
# Set ops & reshaping (SURVEY §2.7, §2.8)
# =====================================================================

@register(
    "q17_union_all",
    """
    SELECT o_orderkey, o_totalprice, 'finished' AS slice FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'big_open' AS slice FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 200000
    """,
)
def q17_union_all(spark, sf_dir):
    """U1 unionByName of per-slice frames (the per-sheet accumulate)."""
    orders = load(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice", F.lit("finished").alias("slice")
    )
    b = orders.where(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 200000)
    ).select("o_orderkey", "o_totalprice", F.lit("big_open").alias("slice"))
    return a.unionByName(b)


@register(
    "q18_unpivot",
    """
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS measure_value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE) FROM part
    """,
)
def q18_unpivot(spark, sf_dir):
    """R1 melt (wide→long), the heart of the reference ETL: native
    unpivot — a zero-shuffle narrow transform."""
    return (
        load(spark, sf_dir, "part")
        .withColumn("p_size", F.col("p_size").cast("double"))
        .withColumn("p_retailprice", F.col("p_retailprice").cast("double"))
        .unpivot("p_partkey", ["p_size", "p_retailprice"], "measure", "measure_value")
    )


# =====================================================================
# Scalar functions (SURVEY §2.9)
# =====================================================================

@register(
    "q19_scalar_funcs",
    """
    SELECT p_partkey,
           trim(regexp_replace(p_name, '\\[\\s*note\\s+\\d+\\s*\\]', '', 'ig')) AS clean_name,
           TRY_CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT) AS brand_num,
           upper(split_part(p_type, ' ', 1)) AS type_head,
           p_partkey % 7 AS bucket
    FROM part
    """,
)
def q19_scalar_funcs(spark, sf_dir):
    """F1 note-tag cleaner, F8 numeric coercion (try_cast), F7 case
    mapping, F10 modulo — all JVM-side Column expressions inside one
    whole-stage-codegen projection."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.trim(
            F.regexp_replace("p_name", r"(?i)\[\s*note\s+\d+\s*\]", "")
        ).alias("clean_name"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).try_cast("bigint").alias("brand_num"),
        F.upper(F.split_part(F.col("p_type"), F.lit(" "), F.lit(1))).alias("type_head"),
        (F.col("p_partkey") % 7).alias("bucket"),
    )


@register(
    "q20_timestamp_funcs",
    """
    SELECT CAST(year(ts) AS BIGINT) AS y,
           CAST(month(ts) AS BIGINT) AS m,
           strftime(min(ts), '%Y-%m-%d') AS first_day,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_e2
    FROM events
    GROUP BY year(ts), month(ts)
    """,
)
def q20_timestamp_funcs(spark, sf_dir):
    """F9 timestamp parse/format/extract + grouped agg."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.year("ts").cast("bigint").alias("y"),
            F.month("ts").cast("bigint").alias("m"),
        )
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd").alias("first_day"),
            F.count(F.lit(1)).alias("n"),
            (F.sum(_dec("value")) * 100).cast("long").alias("total_value_e2"),
        )
    )


@register(
    "q21_paren_split",
    """
    SELECT p_partkey,
           trim(regexp_replace(fuel_unit, '\\(.*$', '')) AS fuel,
           regexp_extract(fuel_unit, '\\(([^)]*)\\)\\s*$', 1) AS unit
    FROM (SELECT p_partkey, p_brand || ' (' || p_type || ')' AS fuel_unit FROM part)
    """,
)
def q21_paren_split(spark, sf_dir):
    """F3 'fuel (unit)' split: text before/inside the trailing parens."""
    p = load(spark, sf_dir, "part").withColumn(
        "fuel_unit", F.concat(F.col("p_brand"), F.lit(" ("), F.col("p_type"), F.lit(")"))
    )
    return p.select(
        "p_partkey",
        F.trim(F.regexp_replace("fuel_unit", r"\(.*$", "")).alias("fuel"),
        F.regexp_extract("fuel_unit", r"\(([^)]*)\)\s*$", 1).alias("unit"),
    )


# =====================================================================
# Scale extensions: text analysis (BASELINE.json north star)
# =====================================================================

_DUCK_TOKS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


def _text_stats_oracle() -> str:
    from queens_spark.operators.text import duckdb_bpe_ish_token_count

    return f"""
    SELECT doc_id,
           CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
           {duckdb_bpe_ish_token_count('text')} AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           CASE WHEN len({_DUCK_TOKS}) > 0
                THEN CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE) / CAST(len({_DUCK_TOKS}) AS DOUBLE)
                ELSE 0.0 END AS ttr
    FROM documents
    """


@register("q22_text_stats", _text_stats_oracle())
def q22_text_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex) + lexical diversity:
    pure expressions, zero shuffle, linear scan."""
    from queens_spark.operators import text as tx

    return load(spark, sf_dir, "documents").select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        tx.char_count("text").alias("n_chars_computed"),
        tx.type_token_ratio("text").alias("ttr"),
    )


@register(
    "q23_quality_score",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             CAST(len({_DUCK_TOKS}) AS DOUBLE) AS n_tok,
             CAST(length(text) AS BIGINT) AS n,
             CAST(length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_clean,
             CASE WHEN len({_DUCK_TOKS}) > 0
                  THEN CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE) / len({_DUCK_TOKS})
                  ELSE 0.0 END AS ttr
      FROM documents
    )
    SELECT doc_id,
           0.4 * least(n_tok / 100.0, 1.0)
           + 0.3 * (1.0 - CASE WHEN n > 0 THEN CAST(n - n_clean AS DOUBLE) / n ELSE 0.0 END)
           + 0.3 * ttr AS quality,
           CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) > 0
                THEN CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                                          t -> list_contains(['the', 'a', 'and', 'of', 'to', 'is'], t))) AS DOUBLE)
                     / len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
                ELSE 0.0 END AS stopword_ratio
    FROM t
    """,
)
def q23_quality_score(spark, sf_dir):
    """Deterministic quality heuristic (length/punctuation/diversity)
    plus the stopword-fraction signal."""
    from queens_spark.operators import text as tx

    return load(spark, sf_dir, "documents").select(
        "doc_id",
        tx.quality_score("text").alias("quality"),
        tx.stopword_ratio("text").alias("stopword_ratio"),
    )


def _duck_lang_score(markers: list[str]) -> str:
    arr = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    toks_lower = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    return (
        f"CASE WHEN len({toks_lower}) > 0 THEN "
        f"CAST(len(list_filter({toks_lower}, t -> list_contains({arr}, t))) AS DOUBLE)"
        f" / len({toks_lower}) ELSE 0.0 END"
    )


def _lang_oracle() -> str:
    from queens_spark.operators.text import LANG_MARKERS

    scores = ",\n           ".join(
        f"{_duck_lang_score(m)} AS s_{lang}" for lang, m in LANG_MARKERS.items()
    )
    langs = sorted(LANG_MARKERS)
    cases = []
    for lang in langs:  # alphabetical tie-break: first >= all others wins
        others = [f"s_{lang} >= s_{o}" for o in langs if o != lang]
        cases.append(
            "WHEN " + " AND ".join(others + [f"s_{lang} > 0"]) + f" THEN '{lang}'"
        )
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
    WITH s AS (SELECT doc_id, {scores} FROM documents)
    SELECT doc_id, {case_sql} AS lang_pred FROM s
    """


@register("q24_lang_id", _lang_oracle())
def q24_lang_id(spark, sf_dir):
    """Marker-word language ID with deterministic tie-break."""
    from queens_spark.operators import text as tx

    return load(spark, sf_dir, "documents").select(
        "doc_id", tx.lang_id("text").alias("lang_pred")
    )


def _fingerprint_oracle() -> str:
    from queens_spark.operators.dedup import HASH_MOD
    from queens_spark.operators.text import duckdb_char_poly_hash

    char_h = duckdb_char_poly_hash("t")
    return f"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform({_DUCK_TOKS}, t -> {char_h})),
               (a, b) -> (a * 131 + b) % {HASH_MOD}) AS rolling_hash
    FROM documents
    """


@register("q25_fingerprint", _fingerprint_oracle())
def q25_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of normalized text + an
    order-sensitive polynomial rolling hash over tokens."""
    from queens_spark.operators import text as tx

    return load(spark, sf_dir, "documents").select(
        "doc_id",
        tx.doc_fingerprint("text").alias("fingerprint"),
        tx.rolling_token_hash("text").alias("rolling_hash"),
    )


# =====================================================================
# Scale extensions: deduplication
# =====================================================================

@register(
    "q26_exact_dedup",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q26_exact_dedup(spark, sf_dir):
    """Exact dedup: hash-groupBy on the content fingerprint."""
    from queens_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(load(spark, sf_dir, "documents"), "text", "doc_id")


def _jaccard_oracle(threshold: float) -> str:
    # Mirrors ngram_jaccard_pairs(max_df="auto"): a df-capped inverted
    # index generates candidates (stop shingles with document frequency
    # > max(50, n_docs // 100) are dropped; n_docs = raw input rows,
    # matching the Spark side's metadata-cheap df.count()), then exact
    # Jaccard is verified on the full hash sets of the candidates only.
    from queens_spark.operators.dedup import duckdb_shingle_hashes

    return f"""
    WITH h AS (
      SELECT doc_id, len(hs) AS ns, hs FROM (
        SELECT doc_id, {duckdb_shingle_hashes('text')} AS hs FROM documents)
      WHERE len(hs) > 0
    ), ex AS (
      SELECT doc_id, unnest(hs) AS sh_hash FROM h
    ), fi AS (
      SELECT doc_id, sh_hash FROM (
        SELECT doc_id, sh_hash,
               COUNT(*) OVER (PARTITION BY sh_hash) AS df
        FROM ex)
      WHERE df <= greatest(50, (SELECT COUNT(*) FROM documents) // 100)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fi a JOIN fi b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS common,
             ha.ns AS na, hb.ns AS nb
      FROM cand c
      JOIN h ha ON ha.doc_id = c.id_a
      JOIN h hb ON hb.doc_id = c.id_b
    )
    SELECT id_a, id_b, common,
           CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
    FROM verified
    WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= {threshold}
    """


@register("q27_ngram_jaccard", _jaccard_oracle(0.8))
def q27_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs via inverted shingle-hash index + exact Jaccard."""
    from queens_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id", n=3, threshold=0.8
    )


def _minhash_oracle(threshold: float) -> str:
    from queens_spark.operators.dedup import (
        LSH_BANDS, LSH_ROWS, MINHASH_A, MINHASH_B, MINHASH_K, MINHASH_P,
        duckdb_shingle_hashes,
    )

    sig_elems = ", ".join(
        f"list_min(list_transform(hs, x -> ({MINHASH_A[i]} * x + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(MINHASH_K)
    )
    band_selects = []
    for band in range(LSH_BANDS):
        cols = " || '_' || ".join(
            f"CAST(sig[{band * LSH_ROWS + r + 1}] AS VARCHAR)" for r in range(LSH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {band} AS band_id, {cols} AS band_sig FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
    WITH h AS (
      SELECT doc_id, hs FROM (
        SELECT doc_id, {duckdb_shingle_hashes('text')} AS hs FROM documents)
      WHERE len(hs) > 0
    ), sig AS (
      SELECT doc_id, hs, [{sig_elems}] AS sig FROM h
    ), bands AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
             / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) AS jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
             / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) >= {threshold}
    """


#: Exact-copy (id, rep_id) edges by normalized-content fingerprint —
#: the oracle twin of dedup.canonical_copies. Composed into q36/q42 so
#: identical clusters LARGER than the stop-shingle cap (invisible to
#: the capped inverted index) still dedup.
_COPIES_SQL = """
      SELECT doc_id, rep_id FROM (
        SELECT doc_id,
               MIN(doc_id) OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               ) AS rep_id
        FROM documents)
      WHERE doc_id <> rep_id
"""


def _pairs_full_oracle(threshold: float) -> str:
    # Oracle twin of dedup.near_dup_pairs_full: capped-index pairs
    # UNION MinHash-LSH banded pairs. Both verify exact Jaccard >=
    # threshold on the same shingle-hash sets, so unioning the two
    # verified pair sets equals the Spark side's
    # union-candidates-then-verify-once.
    return f"""
      SELECT id_a, id_b FROM ({_jaccard_oracle(threshold)})
      UNION
      SELECT id_a, id_b FROM ({_minhash_oracle(threshold)})
    """


def _components_oracle(threshold: float) -> str:
    # edge set = full-recall near-dup pairs (capped index ∪ LSH bands)
    # UNION exact-copy edges; components = min reachable id through
    # the undirected graph (recursive closure)
    pair_sql = _pairs_full_oracle(threshold)
    return f"""
    WITH RECURSIVE pairs AS ({pair_sql}),
    copies AS ({_COPIES_SQL}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
      UNION
      SELECT rep_id AS src, doc_id AS dst FROM copies
      UNION
      SELECT doc_id AS src, rep_id AS dst FROM copies
    ),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(lab) AS component_id
    FROM reach GROUP BY node
    """


@register("q36_dedup_components", _components_oracle(0.8))
def q36_dedup_components(spark, sf_dir):
    """Canonical dedup groups, served from the STORED cluster map
    (store/cluster_map.py — the q110 stored-postings posture applied
    to the dedup tier): the full-recall edge generation (capped
    inverted index ∪ MinHash-LSH bands ∪ exact-copy fingerprints) and
    the adaptive CC run ONCE per corpus at map build; this plan is one
    counter-width artifact scan, no shingle hashing, no CC iteration.
    The oracle still recomputes clustering from scratch — stored and
    inline must agree bit-for-bit (plan-gated in tests/test_plans.py).
    """
    return _documents_clusters(spark, sf_dir).members().select(
        "doc_id", "component_id"
    )


def _dedup_filter_oracle(threshold: float) -> str:
    return f"""
    WITH pairs AS ({_pairs_full_oracle(threshold)}),
    copies AS ({_COPIES_SQL})
    SELECT doc_id, lang FROM documents
    WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM pairs)
      AND doc_id NOT IN (SELECT doc_id FROM copies)
    """


@register("q42_dedup_filter", _dedup_filter_oracle(0.8))
def q42_dedup_filter(spark, sf_dir):
    """Corpus cleaning: drop every exact copy (fingerprint rep ≠ self)
    and the losing side of every full-recall near-dup pair (capped
    index ∪ LSH bands, read from the STORED cluster map's normalized
    edge artifact — no pair generation in this plan) — LEFT ANTI join
    against the loser list; the corpus never shuffles."""
    from queens_spark.operators.dedup import filter_near_duplicates

    docs = load(spark, sf_dir, "documents")
    edges = _documents_clusters(spark, sf_dir).edges()
    return filter_near_duplicates(
        docs, edges, "doc_id", keep_col="a", drop_col="b"
    ).select("doc_id", "lang")


def _packing_oracle(budget: int) -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, lang, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor((cum - n_tokens) / {budget}.0) AS BIGINT) AS pack_id
    FROM c
    """


@register("q43_token_packing", _packing_oracle(1000))
def q43_token_packing(spark, sf_dir):
    """Token-budget packing: assign documents to fixed-budget training
    sequences via a per-stratum cumulative token sum (one shuffle on
    the stratum key; deterministic order by doc_id)."""
    from queens_spark.operators.text import token_count

    t = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.withColumn(
        "pack_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(1000.0)
        ).cast("bigint"),
    )


@register("q28_minhash_lsh", _minhash_oracle(0.8))
def q28_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: banded candidate generation + exact
    Jaccard verification (sub-quadratic — never O(n²))."""
    from queens_spark.operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.8
    )


def _simhash_oracle() -> str:
    from queens_spark.operators.dedup import duckdb_simhash

    return f"SELECT doc_id, {duckdb_simhash('text')} AS simhash FROM documents"


@register("q29_simhash", _simhash_oracle())
def q29_simhash(spark, sf_dir):
    """Per-document SimHash (bit-vote fold over token hashes)."""
    from queens_spark.operators.dedup import simhash

    return load(spark, sf_dir, "documents").select(
        "doc_id", simhash("text").alias("simhash")
    )


# =====================================================================
# Scale extensions: similarity search over embeddings
# =====================================================================

def _topk_oracle(k: int) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    qq = duckdb_quantize("(SELECT embedding FROM embeddings WHERE vec_id = 0)")
    return f"""
    WITH q AS (SELECT {qq} AS qq),
    scored AS (
      SELECT vec_id,
             CAST({duckdb_int_dot('vq', 'qq')} AS DOUBLE)
               / (sqrt(CAST({duckdb_int_dot('vq', 'vq')} AS DOUBLE))
                  * sqrt(CAST({duckdb_int_dot('qq', 'qq')} AS DOUBLE))) AS cosine
      FROM (SELECT vec_id, {qv} AS vq FROM embeddings), q
    )
    SELECT vec_id, cosine FROM scored
    ORDER BY cosine DESC, vec_id ASC LIMIT {k}
    """


@register("q30_cosine_topk", _topk_oracle(10))
def q30_cosine_topk(spark, sf_dir):
    """Brute-force exact ANN baseline: top-10 by cosine for the query
    vector (vec_id=0), TakeOrdered plan."""
    from queens_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk(emb, "embedding", "vec_id", qvec, k=10)


def _neardup_oracle(threshold: float) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    return f"""
    WITH v AS (
      SELECT vec_id, {qv} AS q FROM embeddings
    ), n AS (
      SELECT vec_id, q, {duckdb_int_dot('q', 'q')} AS n2 FROM v
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST({duckdb_int_dot('a.q', 'b.q')} AS DOUBLE)
             / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE CAST({duckdb_int_dot('a.q', 'b.q')} AS DOUBLE)
             / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= {threshold}
    """


@register("q31_embedding_neardup", _neardup_oracle(0.4))
def q31_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact blocked cross join —
    the correctness baseline for the LSH path)."""
    from queens_spark.operators.similarity import embedding_neardup_pairs

    return embedding_neardup_pairs(
        load(spark, sf_dir, "embeddings"), "embedding", "vec_id", threshold=0.4
    )


def _lsh_bucket_oracle(dim: int) -> str:
    from queens_spark.operators.similarity import duckdb_lsh_bucket

    return f"SELECT vec_id, {duckdb_lsh_bucket('embedding', dim)} AS bucket FROM embeddings"


@register("q32_lsh_buckets", _lsh_bucket_oracle(64))
def q32_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucket assignment — the partition key of
    the sub-linear ANN path. Bulk path: one Arrow-batched int64 matmul
    per batch (~10× the interpreted Column form, bit-identical)."""
    from queens_spark.operators.similarity import lsh_bucket_vectors

    return lsh_bucket_vectors(
        load(spark, sf_dir, "embeddings"), "embedding", "vec_id", 64
    )


def _ivf_oracle() -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    return f"""
    WITH v AS (
      SELECT vec_id, {qv} AS q FROM embeddings
    ), n AS (
      SELECT vec_id, q, {duckdb_int_dot('q', 'q')} AS n2 FROM v
    ), cents AS (
      SELECT vec_id AS centroid_id, q AS cq, n2 AS cn2 FROM n WHERE vec_id % 200 = 0
    ), scored AS (
      SELECT v.vec_id, c.centroid_id,
             CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)
               / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                ORDER BY CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)
               / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC,
                                c.centroid_id ASC) AS rk
      FROM n v, cents c
    )
    SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id,
           cosine AS centroid_cosine
    FROM scored WHERE rk = 1
    """


@register("q33_ivf_assign", _ivf_oracle())
def q33_ivf_assign(spark, sf_dir):
    """IVF coarse quantization: nearest-centroid assignment against a
    broadcast centroid set (centroids: vec_id % 200 == 0). The Column
    form measures faster at this centroid count; ivf_assign_vectors is
    the bit-identical matmul path that wins once the centroid set is
    large (thousands of cells)."""
    from queens_spark.operators.similarity import coarse_centroids, ivf_assign

    emb = load(spark, sf_dir, "embeddings")
    # seed pick stays a lazy frame: no plan-build corpus scan for the
    # ids, no isin() literal that grows with the corpus
    cents = coarse_centroids(
        emb, "embedding", "vec_id", F.col("vec_id") % 200 == 0
    )
    return ivf_assign(emb, "embedding", "vec_id", centroids_df=cents)


def _ivf_search_oracle(k: int, n_probe: int) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    qq = duckdb_quantize("(SELECT embedding FROM embeddings WHERE vec_id = 0)")
    return f"""
    WITH q AS (SELECT {qq} AS qq),
    n AS (
      SELECT vec_id, q AS vq, {duckdb_int_dot('q', 'q')} AS n2
      FROM (SELECT vec_id, {qv} AS q FROM embeddings)
    ), cents AS (
      SELECT vec_id AS centroid_id, vq AS cq, n2 AS cn2 FROM n WHERE vec_id % 200 = 0
    ), probe AS (
      SELECT centroid_id FROM cents, q
      ORDER BY CAST({duckdb_int_dot('cq', 'qq')} AS DOUBLE)
                 / (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST({duckdb_int_dot('qq', 'qq')} AS DOUBLE))) DESC,
               centroid_id ASC
      LIMIT {n_probe}
    ), scored AS (
      SELECT v.vec_id, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                ORDER BY CAST({duckdb_int_dot('v.vq', 'c.cq')} AS DOUBLE)
               / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC,
                                c.centroid_id ASC) AS rk
      FROM n v, cents c
    ), assigned AS (
      SELECT vec_id, centroid_id FROM scored WHERE rk = 1
    )
    SELECT n.vec_id,
           CAST({duckdb_int_dot('n.vq', 'qq')} AS DOUBLE)
             / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST({duckdb_int_dot('qq', 'qq')} AS DOUBLE))) AS cosine
    FROM n JOIN assigned a ON n.vec_id = a.vec_id, q
    WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
    ORDER BY cosine DESC, n.vec_id ASC LIMIT {k}
    """


def _lsh_search_oracle(dim: int, k: int) -> str:
    from queens_spark.operators.similarity import (
        duckdb_int_dot,
        duckdb_lsh_bucket,
        duckdb_quantize,
    )

    qv = duckdb_quantize("embedding")
    qq = duckdb_quantize("(SELECT embedding FROM embeddings WHERE vec_id = 0)")
    qbucket = duckdb_lsh_bucket(
        "(SELECT embedding FROM embeddings WHERE vec_id = 0)", dim
    )
    return f"""
    WITH q AS (SELECT {qq} AS qq, {qbucket} AS qb),
    v AS (
      SELECT vec_id, {qv} AS vq, {duckdb_lsh_bucket('embedding', dim)} AS bucket
      FROM embeddings
    )
    SELECT vec_id,
           CAST({duckdb_int_dot('vq', 'qq')} AS DOUBLE)
             / (sqrt(CAST({duckdb_int_dot('vq', 'vq')} AS DOUBLE))
                * sqrt(CAST({duckdb_int_dot('qq', 'qq')} AS DOUBLE))) AS cosine
    FROM v, q
    WHERE bucket = qb
    ORDER BY cosine DESC, vec_id ASC LIMIT {k}
    """


@register("q37_lsh_search", _lsh_search_oracle(64, 10))
def q37_lsh_search(spark, sf_dir):
    """LSH probe search: the query's sign bucket only, exact top-k
    inside it (bucket id = partition key at scale → pruned read)."""
    from queens_spark.operators.similarity import lsh_search

    emb = load(spark, sf_dir, "embeddings")
    query_vec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return lsh_search(emb, "embedding", "vec_id", 64, query_vec, k=10)


@register("q35_ivf_search", _ivf_search_oracle(10, 2))
def q35_ivf_search(spark, sf_dir):
    """IVF probe search: top-n_probe cells by query-to-centroid cosine,
    exact top-k inside only those cells (partition pruning at scale)."""
    from queens_spark.operators.similarity import coarse_centroids, ivf_search

    emb = load(spark, sf_dir, "embeddings")
    cents = coarse_centroids(
        emb, "embedding", "vec_id", F.col("vec_id") % 200 == 0
    )
    query_vec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ivf_search(emb, "embedding", "vec_id", query_vec=query_vec,
                      k=10, n_probe=2, centroids_df=cents)


@register(
    "q38_asof_join",
    """
    SELECT l.event_id, l.user_id, l.ts,
           r.event_id AS asof_event_id, r.ts AS asof_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id AND r.ts <= l.ts
    """,
)
def q38_asof_join(spark, sf_dir):
    """As-of join: each purchase gains the user's latest click at or
    before it — union-marker pattern, ONE shuffle on user_id, nothing
    quadratic (see operators/timeseries.py)."""
    from queens_spark.operators.timeseries import as_of_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    return as_of_join(
        purchases, clicks, ["user_id"], right_cols=("event_id", "ts")
    ).select("event_id", "user_id", "ts", "asof_event_id", "asof_ts")


@register(
    "q40_time_rollup",
    """
    SELECT date_trunc('day', ts) AS day,
           date_trunc('hour', ts) AS hour,
           CAST(GROUPING(date_trunc('day', ts)) * 2
                + GROUPING(date_trunc('hour', ts)) AS BIGINT) AS gid,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_e2
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
    """,
)
def q40_time_rollup(spark, sf_dir):
    """Hypertable-style continuous-aggregate shape: hourly, daily, and
    grand-total rollups in ONE pass via GROUPING SETS (rollup) — one
    shuffle with map-side partials, instead of one scan per
    granularity."""
    ev = (
        load(spark, sf_dir, "events")
        .withColumn("day", F.date_trunc("day", F.col("ts")))
        .withColumn("hour", F.date_trunc("hour", F.col("ts")))
    )
    return ev.rollup("day", "hour").agg(
        (F.grouping("day") * 2 + F.grouping("hour")).cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(_dec("value")) * 100).cast("long").alias("total_value_e2"),
    ).select("day", "hour", "gid", "n_events", "total_value_e2")


def _sample_oracle() -> str:
    from queens_spark.operators.sampling import duckdb_hash_bucket

    bucket = duckdb_hash_bucket("doc_id")
    return f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {bucket} < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
                               WHEN 'fr' THEN 1000 ELSE 0 END
    """


@register("q41_stratified_sample", _sample_oracle())
def q41_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (data mixing): per-language
    keep rates decided by a stable per-key hash — reproducible across
    reruns, engines, and parallelism, unlike rand()-based sampling."""
    from queens_spark.operators.sampling import stratified_hash_sample

    return stratified_hash_sample(
        load(spark, sf_dir, "documents"), "doc_id", "lang",
        {"en": 5000, "de": 2500, "fr": 1000},
    ).select("doc_id", "lang")


def _topk_group_oracle(k: int) -> str:
    # quality_score formula exactly as q23's oracle
    toks = _DUCK_TOKS
    punct = (
        "CASE WHEN length(text) > 0 THEN "
        "CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)"
        " / length(text) ELSE 0.0 END"
    )
    ttr = (
        f"CASE WHEN len({toks}) > 0 THEN CAST(len(list_distinct({toks})) AS DOUBLE)"
        f" / len({toks}) ELSE 0.0 END"
    )
    quality = (
        f"0.4 * least(CAST(len({toks}) AS DOUBLE) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - ({punct})) + 0.3 * ({ttr})"
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, lang, {quality} AS quality,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {quality} DESC, doc_id ASC) AS rk
      FROM documents
    )
    SELECT doc_id, lang, quality, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= {k}
    """


@register("q45_topk_per_group", _topk_group_oracle(3))
def q45_topk_per_group(spark, sf_dir):
    """Group-wise top-k (best documents per language by quality):
    rank-window + filter — per-partition heaps, no global sort."""
    from queens_spark.operators.text import quality_score

    w = Window.partitionBy("lang").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", quality_score("text").alias("quality"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 3)
    )


@register(
    "q46_length_quartiles",
    f"""
    WITH t AS (
      SELECT doc_id, lang, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(ntile(4) OVER (PARTITION BY lang
                               ORDER BY n_tokens, doc_id) AS BIGINT) AS quartile
    FROM t
    """,
)
def q46_length_quartiles(spark, sf_dir):
    """Per-stratum length quartiles (curriculum bucketing by doc
    length): ntile window, deterministic via the doc_id tie-break.
    Verified that Spark and DuckDB share remainder-distribution
    semantics (first tiles get the extra rows)."""
    from queens_spark.operators.text import token_count

    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", token_count("text").alias("n_tokens"))
        .withColumn("quartile", F.ntile(4).over(w).cast("bigint"))
    )


@register(
    "q47_exact_quantiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           quantile_cont(l_extendedprice, 0.90) AS price_p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q47_exact_quantiles(spark, sf_dir):
    """Exact grouped percentiles (linear interpolation) via the
    built-in sort-within-group aggregate; Spark's percentile() and
    DuckDB's quantile_cont verified bit-identical. NOTE: percentile()
    buffers each group's values in one aggregation buffer — fine for
    bounded groups; for billion-row groups use the order-statistics
    path (q58 / operators/quantiles.py), or approx_percentile when
    exactness isn't required."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.50)).alias("q50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
        F.percentile("l_extendedprice", F.lit(0.90)).alias("price_p90"),
    )


@register(
    "q48_set_ops",
    """
    SELECT s_suppkey FROM (
      SELECT s_suppkey FROM supplier
      INTERSECT
      SELECT DISTINCT l_suppkey AS s_suppkey FROM lineitem
    )
    EXCEPT
    SELECT s_suppkey FROM supplier WHERE s_nationkey = 3
    """,
)
def q48_set_ops(spark, sf_dir):
    """INTERSECT + EXCEPT (set-distinct semantics — beyond the
    reference, which has no set ops): suppliers that appear in
    lineitem, minus nation 3. Both compile to aggregate-based
    set operations (one shuffle each on the key)."""
    supp = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    return (
        supp.select("s_suppkey")
        .intersect(li.select(F.col("l_suppkey").alias("s_suppkey")).distinct())
        .subtract(supp.where(F.col("s_nationkey") == 3).select("s_suppkey"))
    )


@register(
    "q49_event_gaps",
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us
    FROM g GROUP BY user_id
    """,
)
def q49_event_gaps(spark, sf_dir):
    """Inter-event arrival gaps per user: lag window over a total
    order, then integer gap stats (exact — no float accumulation).
    One shuffle on user_id shared by the window AND the aggregate."""
    ev = load(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.withColumn("gap_us", F.col("us") - F.lag("us").over(w))
    return g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("total_gap_us"),
    )


@register(
    "q50_conditional_agg",
    """
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           COUNT(*) FILTER (WHERE l_tax = 0) AS n_taxfree,
           CAST(SUM(CASE WHEN l_discount > 0.05
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS discounted_price_e2
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q50_conditional_agg(spark, sf_dir):
    """Conditional aggregation (FILTER/CASE): multiple filtered
    measures in ONE scan + one shuffle, instead of a scan per
    predicate; DECIMAL accumulation keeps the sum order-independent."""
    li = load(spark, sf_dir, "lineitem")
    disc = F.col("l_discount") > 0.05
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(disc, 1)).alias("n_discounted"),
        F.count(F.when(F.col("l_tax") == 0, 1)).alias("n_taxfree"),
        (F.sum(
            F.when(disc, _dec("l_extendedprice")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ) * 100).cast("long").alias("discounted_price_e2"),
    )


@register(
    "q44_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)
def q44_json_extract(spark, sf_dir):
    """Schema-on-read over a JSON props column: typed extraction with
    get_json_object stays JVM-side and the filter+agg pipeline keeps
    map-side partials — no Python in the loop."""
    ev = load(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("bigint")
    )
    return (
        ev.where(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


#: Overlapping value bands for the range-join query — identical
#: literals in the Spark frame and the oracle's VALUES list.
VALUE_BANDS = [(float(i * 50), float(i * 50 + 75), f"band_{i}") for i in range(10)]


@register(
    "q39_range_join",
    """
    WITH ranges(lo, hi, band) AS (VALUES """
    + ", ".join(f"({lo}, {hi}, '{b}')" for lo, hi, b in VALUE_BANDS)
    + """)
    SELECT e.event_id, e.value, r.band
    FROM events e JOIN ranges r ON e.value >= r.lo AND e.value < r.hi
    """,
)
def q39_range_join(spark, sf_dir):
    """Interval containment as an EQUI join via range binning (broadcast
    here; equi-shuffle instead of nested-loop when both sides are big)."""
    from queens_spark.operators.timeseries import range_join

    ev = load(spark, sf_dir, "events")
    ranges = spark.createDataFrame(VALUE_BANDS, "lo double, hi double, band string")
    return range_join(ev, ranges, "value", bin_width=25.0).select(
        "event_id", "value", "band"
    )


# =====================================================================
# Scale extensions: event sessionization (stream-shaped batch op)
# =====================================================================

@register(
    "q34_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                       OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_id, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_n
      FROM g
    )
    SELECT user_id, session_n, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS session_value_e2
    FROM s GROUP BY user_id, session_n
    """,
)
def q34_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): the batch twin of
    the streaming session-window operator. One shuffle on user_id.

    Boundary convention matches Spark's session_window: a session spans
    [start, last_event + gap), so an event landing exactly at
    last_event + gap opens a NEW session (hence >=, not >)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us >= 1_800_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_n", F.sum("new_session").over(run))
        .groupBy("user_id", "session_n")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_dec("value")) * 100).cast("long").alias("session_value_e2"),
        )
    )


def _lsh_bucket_pairs_oracle(
    dim: int, threshold: float, planes: int, tables: int
) -> str:
    from queens_spark.operators.similarity import (
        duckdb_int_dot,
        duckdb_lsh_bucket,
        duckdb_quantize,
    )

    band_selects = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, "
        f"{duckdb_lsh_bucket('embedding', dim, planes, table=t)} AS bucket "
        f"FROM embeddings"
        for t in range(tables)
    )
    return f"""
    WITH n AS (
      SELECT vec_id, q, {duckdb_int_dot('q', 'q')} AS n2
      FROM (SELECT vec_id, {duckdb_quantize('embedding')} AS q FROM embeddings)
    ), bands AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           CAST({duckdb_int_dot('na.q', 'nb.q')} AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
    FROM cand c
    JOIN n na ON na.vec_id = c.id_a
    JOIN n nb ON nb.vec_id = c.id_b
    WHERE CAST({duckdb_int_dot('na.q', 'nb.q')} AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= {threshold}
    """


@register("q51_lsh_bucket_pairs", _lsh_bucket_pairs_oracle(64, 0.4, 6, 8))
def q51_lsh_bucket_pairs(spark, sf_dir):
    """The documented >2M-vector scale path for embedding near-dup
    pairs: candidates share a hyperplane-LSH bucket in any of 8
    independent tables (OR-construction; one shuffle on (table,
    bucket), never all-pairs), numpy-vectorized exact integer-cosine
    verification on deduplicated candidates only. Same 0.4 threshold
    as the exact baseline q31, so this result is its LSH-recall
    subset (this corpus' 0.4-cosine "near-dups" are adversarially
    weak for sign-LSH; at the design regime of cosine ≥ 0.9 these
    parameters recall ~98%)."""
    from queens_spark.operators.similarity import lsh_bucket_pairs

    return lsh_bucket_pairs(
        load(spark, sf_dir, "embeddings"), "embedding", "vec_id", 64,
        threshold=0.4, planes=6, tables=8,
    )


# =====================================================================
# Structured Streaming tier, oracle-checked (backfill mode): the same
# streaming plans production would run incrementally, executed over
# all currently-available input with availableNow and compared against
# batch SQL — proving the streaming operators compute the batch truth.
# =====================================================================

@register(
    "q52_stream_windowed_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_e2
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q52_stream_windowed_counts(spark, sf_dir):
    """Streaming tumbling-window counts (watermarked) executed in
    availableNow backfill mode; sums accumulate in DECIMAL so the
    result is order-independent and hash-comparable."""
    from queens_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        windowed_counts,
    )

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    wc = windowed_counts(ev, value_col=F.col("value").cast("decimal(18,2)"))
    out = run_available_now(wc, "q52_mem")
    return out.select(
        "window_start", "window_end", "event_type", "n_events",
        (F.col("total_value") * 100).cast("long").alias("total_value_e2"),
    )


@register(
    "q53_stream_sessions",
    """
    WITH g AS (
      SELECT user_id, ts, value,
             -- >=: session_window merges an event only while
             -- t < last_event + gap (half-open), so an event at
             -- exactly the 30:00 boundary starts a new session
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                       OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_n
      FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS session_value_e2
    FROM s GROUP BY user_id, session_n
    """,
)
def q53_stream_sessions(spark, sf_dir):
    """Native streaming session windows (30-min gap) in availableNow
    backfill mode — the streaming twin of batch q34, oracle-checked:
    session_window end = last event + gap."""
    from queens_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        session_aggregates,
    )

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    sa = session_aggregates(ev, value_col=F.col("value").cast("decimal(18,2)"))
    out = run_available_now(sa, "q53_mem")
    return out.select(
        "user_id",
        F.col("session_start"),
        F.col("session_end"),
        "n_events",
        (F.col("session_value") * 100).cast("long").alias("session_value_e2"),
    )


@register(
    "q54_stream_first_seen",
    """
    SELECT user_id, event_type, event_id, ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rk
      FROM events)
    WHERE rk = 1
    """,
)
def q54_stream_first_seen(spark, sf_dir):
    """Custom stateful streaming dedup (applyInPandasWithState): first
    event per (user, event_type) emitted, later ones dropped. In
    availableNow backfill all input is one micro-batch, so the winner
    is exactly the (ts, event_id) minimum — batch-SQL comparable."""
    from queens_spark.streaming.events import (
        first_seen,
        read_events_stream,
        run_available_now,
    )

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    fs = first_seen(ev.select("user_id", "event_type", "event_id", "ts"))
    return run_available_now(
        fs, "q54_mem", output_mode="append", stream_partitions=None
    )


def _chunking_oracle(chunk_tokens: int, stride: int) -> str:
    from queens_spark.operators.text import duckdb_token_chunks

    chunks = duckdb_token_chunks("text", chunk_tokens, stride)
    toks = "list_filter(string_split_regex(u.chunk_text, '\\s+'), x -> x <> '')"
    return f"""
    WITH c AS (
      SELECT doc_id, {chunks} AS chunks FROM documents
    ), e AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(chunks) + 1),
               i -> struct_pack(chunk_index := CAST(i - 1 AS BIGINT),
                                chunk_text := chunks[i]))) AS u
      FROM c
    )
    SELECT doc_id, u.chunk_index AS chunk_index, u.chunk_text AS chunk_text,
           CAST(len({toks}) AS BIGINT) AS n_chunk_tokens
    FROM e
    """


@register("q55_doc_chunking", _chunking_oracle(40, 30))
def q55_doc_chunking(spark, sf_dir):
    """Long-document chunking into overlapping token windows (40-token
    chunks, stride 30) — the training-sample splitter. Zero-shuffle
    per-row array expressions + posexplode; output size is linear in
    corpus tokens."""
    from queens_spark.operators.text import token_chunks, token_count

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(token_chunks("text", 40, 30)).alias(
                "chunk_index", "chunk_text"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_index").cast("bigint").alias("chunk_index"),
            "chunk_text",
            token_count(F.col("chunk_text")).alias("n_chunk_tokens"),
        )
    )


@register(
    "q56_text_clean_redact",
    r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g'),
             '\s+', ' ', 'g')) AS clean_text,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\s]+')) AS BIGINT) AS n_urls
    FROM documents
    """,
)
def q56_text_clean_redact(spark, sf_dir):
    """Corpus cleaning + redaction pass: mask emails/URLs with
    placeholder tokens, collapse whitespace, and count the masked
    entities — all JVM regexp expressions inside one whole-stage
    codegen projection; zero shuffle."""
    from queens_spark.operators.text import (
        EMAIL_PATTERN,
        URL_PATTERN,
        mask_pii,
        normalize_text,
    )

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        normalize_text(mask_pii("text")).alias("clean_text"),
        F.regexp_count("text", F.lit(EMAIL_PATTERN)).cast("bigint").alias("n_emails"),
        F.regexp_count(
            F.regexp_replace("text", EMAIL_PATTERN, "<EMAIL>"), F.lit(URL_PATTERN)
        ).cast("bigint").alias("n_urls"),
    )


def _kmeans_oracle() -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")

    def ddot(a, b):
        return (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i])), "
            f"(x, y) -> x + y)"
        )

    cos_int = (
        f"CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)"
        f" / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))"
    )
    cos_dbl = (
        f"{ddot('vn.qd', 'rn.cq')}"
        f" / (sqrt(vn.n2d) * sqrt(rn.cn2))"
    )
    return f"""
    WITH v0 AS (
      SELECT vec_id, {qv} AS q FROM embeddings
    ), n AS (
      SELECT vec_id, q, {duckdb_int_dot('q', 'q')} AS n2 FROM v0
    ), cents AS (
      SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM n WHERE vec_id % 200 = 0
    ), a1 AS (
      SELECT vec_id, cid AS c0 FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {cos_int} DESC, c.cid ASC) AS rk
        FROM n v CROSS JOIN cents c)
      WHERE rk = 1
    ), ex AS (
      SELECT a.c0,
             unnest(range(1, len(nn.q) + 1)) AS i,
             unnest(nn.q) AS val
      FROM a1 a JOIN n nn USING (vec_id)
    ), means AS (
      SELECT c0, i, CAST(SUM(val) AS DOUBLE) / COUNT(*) AS m
      FROM ex GROUP BY c0, i
    ), rn AS (
      SELECT c0, cq, {ddot('cq', 'cq')} AS cn2 FROM (
        SELECT c0, list(m ORDER BY i) AS cq FROM means GROUP BY c0)
    ), vn AS (
      SELECT vec_id, qd, {ddot('qd', 'qd')} AS n2d FROM (
        SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) AS qd FROM n)
    )
    SELECT vec_id, CAST(c0 AS BIGINT) AS cluster, cosine FROM (
      SELECT vn.vec_id, rn.c0, {cos_dbl} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY vn.vec_id
                                ORDER BY {cos_dbl} DESC, rn.c0 ASC) AS rk
      FROM vn CROSS JOIN rn)
    WHERE rk = 1
    """


@register("q57_kmeans_refine", _kmeans_oracle())
def q57_kmeans_refine(spark, sf_dir):
    """One Lloyd's iteration of k-means over the embedding table — the
    distributed training loop behind IVF coarse quantizers: seed
    (every 200th vector) → broadcast-argmax assignment → map-side
    combined per-dimension means → broadcast reassignment. Vectors
    never shuffle; the update shuffle carries k x d counters."""
    from queens_spark.operators.similarity import kmeans_refine

    emb = load(spark, sf_dir, "embeddings")
    # Lazy seed pick (vec_id % 200 == 0): collecting the id list first
    # costs a corpus scan at plan build and an isin() literal that
    # grows with n — the q33 coarse_centroids pattern applies here too.
    return kmeans_refine(
        emb, "embedding", "vec_id",
        centroids_pred=F.col("vec_id") % 200 == 0,
    )


@register(
    "q58_scalable_quantiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           quantile_cont(l_extendedprice, 0.90) AS price_p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q58_scalable_quantiles(spark, sf_dir):
    """Same exact grouped quantiles as q47 but computed from
    distributed order statistics (two-phase rank + straddling-rank
    interpolation, operators/quantiles.py) — no per-group aggregation
    buffer, so a billion-row group sorts at cluster width instead of
    OOMing one reducer. The oracle is identical to q47's: both paths
    must produce bit-identical values."""
    from queens_spark.operators.quantiles import exact_group_quantiles

    li = load(spark, sf_dir, "lineitem")
    qty = exact_group_quantiles(
        li, "l_returnflag", "l_quantity",
        {"q25": 0.25, "q50": 0.50, "q75": 0.75},
    )
    price = exact_group_quantiles(
        li, "l_returnflag", "l_extendedprice", {"price_p90": 0.90}
    )
    return qty.join(price, "l_returnflag")


def _split_oracle() -> str:
    from queens_spark.operators.sampling import duckdb_hash_split

    split = duckdb_hash_split(
        "doc_id", {"train": 8000, "val": 1000, "test": 1000}
    )
    return f"""
    SELECT split, lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM (SELECT doc_id, lang, {split} AS split FROM documents)
    GROUP BY split, lang
    """


@register("q59_dataset_split", _split_oracle())
def q59_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment (80/10/10) by portable
    per-key hash — stable across reruns, engines, and parallelism, so
    split membership can never leak between sets. Zero shuffle for the
    assignment; one counter-sized aggregation for the report."""
    from queens_spark.operators.sampling import hash_split

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", "lang",
            hash_split("doc_id", {"train": 8000, "val": 1000, "test": 1000})
            .alias("split"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def _best_in_cluster_oracle(threshold: float) -> str:
    comp_sql = _components_oracle(threshold)
    return f"""
    SELECT component_id, doc_id AS best_doc_id, quality AS best_quality,
           n_members
    FROM (
      SELECT c.component_id, c.doc_id, q.quality,
             ROW_NUMBER() OVER (PARTITION BY c.component_id
                                ORDER BY q.quality DESC, c.doc_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY c.component_id) AS n_members
      FROM ({comp_sql}) c
      JOIN (
        SELECT doc_id,
               0.4 * least(CAST(len({_DUCK_TOKS}) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - CASE WHEN length(text) > 0
                        THEN CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                             / length(text) ELSE 0.0 END)
               + 0.3 * CASE WHEN len({_DUCK_TOKS}) > 0
                        THEN CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE) / len({_DUCK_TOKS})
                        ELSE 0.0 END AS quality
        FROM documents) q USING (doc_id))
    WHERE rk = 1
    """


@register("q60_best_in_cluster", _best_in_cluster_oracle(0.8))
def q60_best_in_cluster(spark, sf_dir):
    """Quality-aware canonical selection: within each dedup cluster
    (near-dup graph ∪ exact-copy edges, as q36) keep the
    HIGHEST-quality member — what a real corpus-cleaning pipeline
    retains, rather than the lowest id. Served from the stored
    cluster map's counter-width ``canonical`` table (the struct-max
    selection happens once at map build, store/cluster_map.py) — the
    keep-list a cleaning pipeline actually distributes, read without
    touching the corpus. Oracle recomputes from scratch; stored must
    match bit-for-bit."""
    return _documents_clusters(spark, sf_dir).canonical()


def _decontamination_oracle(min_shared: int) -> str:
    from queens_spark.operators.dedup import duckdb_shingle_hashes

    return f"""
    WITH h AS (
      SELECT doc_id, unnest({duckdb_shingle_hashes('text')}) AS sh
      FROM documents
    ), e AS (
      SELECT DISTINCT sh FROM h WHERE doc_id % 100 = 0
    )
    SELECT doc_id, COUNT(*) AS n_shared
    FROM h
    WHERE doc_id % 100 <> 0 AND sh IN (SELECT sh FROM e)
    GROUP BY doc_id
    HAVING COUNT(*) >= {min_shared}
    """


@register("q61_decontamination", _decontamination_oracle(3))
def q61_decontamination(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing ≥3
    word 3-gram shingles with ANY document of the eval set (here:
    doc_id % 100 == 0 stands in for the benchmark corpus).

    Scale shape (operators/dedup.py:decontaminate): the eval corpus is
    benchmark-sized by nature, so its distinct shingle-hash set
    BROADCASTS and the training corpus is filtered by a map-side LEFT
    SEMI join — it never shuffles; only counter-width (doc, count)
    rows reach the final aggregation. Should the eval set outgrow the
    broadcast threshold, the operator switches to a distributed-built
    Bloom filter (~7× smaller broadcast, no false negatives) with an
    exact semi-join re-check on the surviving sliver — bit-identical
    results through both paths (tests/test_dedup_skew.py). Per-doc
    shingle hashes are already distinct, so COUNT(*) is the
    distinct-overlap count."""
    from queens_spark.operators.dedup import decontaminate, shingle_hashes

    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(shingle_hashes("text")).alias("sh")
    )
    return decontaminate(
        sh.where(F.col("doc_id") % 100 != 0),
        sh.where(F.col("doc_id") % 100 == 0),
        min_overlap=3,
    )


# =====================================================================
# Round 4: corpus-quality, corpus-statistics, and quantization tiers
# =====================================================================

def _repetition_oracle() -> str:
    toks = _DUCK_TOKS
    lines = ("list_filter(list_transform(string_split(text, chr(10)), "
             "x -> trim(x)), x -> x <> '')")
    return f"""
    WITH base AS (
      SELECT doc_id, text, {lines} AS ls, {toks} AS tk FROM documents
    ), d AS (
      SELECT doc_id,
             len(ls) AS n_lines,
             len(list_distinct(ls)) AS n_dl,
             coalesce(list_sum(list_transform(ls, x -> CAST(length(x) AS BIGINT))), 0) AS lc,
             coalesce(list_sum(list_transform(list_distinct(ls), x -> CAST(length(x) AS BIGINT))), 0) AS dlc,
             len(list_filter(ls, x -> regexp_matches(x, '[.!?]$'))) AS n_end_punct,
             CASE WHEN len(tk) >= 2
                  THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
                  ELSE [] END AS bg,
             CASE WHEN len(tk) >= 3
                  THEN list_transform(range(1, len(tk) - 1),
                                      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
                  ELSE [] END AS tg,
             len(tk) AS n_tok,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
             CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_ellipsis
      FROM base
    ), top AS (
      SELECT doc_id, max(c) AS top_bg FROM (
        SELECT doc_id, b, count(*) AS c
        FROM (SELECT doc_id, unnest(bg) AS b FROM d)
        GROUP BY doc_id, b)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN n_lines > 0
                THEN CAST(n_lines - n_dl AS DOUBLE) / CAST(n_lines AS DOUBLE)
                ELSE 0.0 END AS dup_line_frac,
           CASE WHEN lc > 0
                THEN CAST(lc - dlc AS DOUBLE) / CAST(lc AS DOUBLE)
                ELSE 0.0 END AS dup_line_char_frac,
           CASE WHEN n_lines > 0
                THEN CAST(n_end_punct AS DOUBLE) / CAST(n_lines AS DOUBLE)
                ELSE 0.0 END AS frac_lines_end_punct,
           CASE WHEN len(bg) > 0
                THEN CAST(coalesce(top_bg, 0) AS DOUBLE) / CAST(len(bg) AS DOUBLE)
                ELSE 0.0 END AS top_bigram_frac,
           CASE WHEN len(tg) > 0
                THEN CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / CAST(len(tg) AS DOUBLE)
                ELSE 0.0 END AS dup_trigram_frac,
           CASE WHEN n_tok > 0
                THEN CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(n_tok AS DOUBLE)
                ELSE 0.0 END AS symbol_word_ratio
    FROM d LEFT JOIN top ON d.doc_id = top.doc_id
    """


@register("q62_repetition_stats", _repetition_oracle())
def q62_repetition_stats(spark, sf_dir):
    """Gopher-style repetition screens: duplicate-line fraction (count
    and character-weighted), terminal-punctuation line fraction, most-
    frequent-bigram coverage, duplicate-trigram fraction, and the
    symbol-to-word ratio — the standard pre-training quality rules.

    Scale: pure per-row array expressions, zero shuffle, linear scan.
    The top-bigram count uses a sort + run-length fold (O(k log k) per
    document) instead of exploding n-grams into a corpus-wide
    shuffle — repetition is a PER-DOCUMENT property, so nothing should
    leave the row. All ratios are bigint→double divisions, bit-portable
    against the oracle."""
    from queens_spark.operators import text as tx

    return load(spark, sf_dir, "documents").select(
        "doc_id",
        tx.dup_line_frac("text").alias("dup_line_frac"),
        tx.dup_line_char_frac("text").alias("dup_line_char_frac"),
        tx.frac_lines_end_punct("text").alias("frac_lines_end_punct"),
        tx.top_ngram_frac("text", 2).alias("top_bigram_frac"),
        tx.dup_ngram_frac("text", 3).alias("dup_trigram_frac"),
        tx.symbol_word_ratio("text").alias("symbol_word_ratio"),
    )


def _tfidf_oracle(k: int) -> str:
    from queens_spark.operators.corpus import TFIDF_SCALE

    return f"""
    WITH tf AS (
      SELECT doc_id AS doc, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), dfc AS (
      SELECT token, count(*) AS df_docs FROM tf GROUP BY token
    ), s AS (
      SELECT doc, tf.token AS token, tf, df_docs,
             tf * {TFIDF_SCALE} // df_docs AS score_e6
      FROM tf JOIN dfc ON tf.token = dfc.token
    ), r AS (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY doc ORDER BY score_e6 DESC, token) AS BIGINT) AS rank
      FROM s
    )
    SELECT doc, token, tf, df_docs, score_e6, rank FROM r WHERE rank <= {k}
    """


@register("q63_tfidf_keywords", _tfidf_oracle(3))
def q63_tfidf_keywords(spark, sf_dir):
    """Top-3 characteristic terms per document by scaled-integer tf/df
    (order-equivalent to tf·idf for a fixed corpus; integer division
    keeps the score bit-portable where ln()-based idf is not).

    Scale: the wordcount shuffle on (doc, token), a counter-width df
    aggregation joined back on token (AQE broadcasts it when small),
    and a per-document window bounded by document vocabulary. See
    operators/corpus.py."""
    from queens_spark.operators.corpus import tfidf_topk

    return tfidf_topk(load(spark, sf_dir, "documents"), "text", "doc_id", k=3)


def _vocab_oracle(top: int) -> str:
    return f"""
    WITH tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), agg AS (
      SELECT token, SUM(tf) AS n_occurrences, count(*) AS n_docs
      FROM tf GROUP BY token
    )
    SELECT token, CAST(n_occurrences AS BIGINT) AS n_occurrences, n_docs,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT) AS rank
    FROM agg
    ORDER BY rank
    LIMIT {top}
    """


@register("q67_vocabulary", _vocab_oracle(100))
def q67_vocabulary(spark, sf_dir):
    """Corpus vocabulary head: top-100 tokens by total occurrences
    with per-token document counts — the tokenizer-training /
    frequency-pruning primitive. Two counter-width aggregations + a
    TakeOrdered of 100 rows; the corpus never sorts globally."""
    from queens_spark.operators.corpus import vocabulary

    return vocabulary(load(spark, sf_dir, "documents"), "text", "doc_id", top=100)


def _containment_oracle(threshold: float) -> str:
    # Mirrors dedup.containment_pairs: same df-capped candidate
    # generation as _jaccard_oracle, verified with the asymmetric
    # containment |A∩B| / min(|A|,|B|) instead of Jaccard.
    from queens_spark.operators.dedup import duckdb_shingle_hashes

    return f"""
    WITH h AS (
      SELECT doc_id, len(hs) AS ns, hs FROM (
        SELECT doc_id, {duckdb_shingle_hashes('text')} AS hs FROM documents)
      WHERE len(hs) > 0
    ), ex AS (
      SELECT doc_id, unnest(hs) AS sh_hash FROM h
    ), fi AS (
      SELECT doc_id, sh_hash FROM (
        SELECT doc_id, sh_hash,
               COUNT(*) OVER (PARTITION BY sh_hash) AS df
        FROM ex)
      WHERE df <= greatest(50, (SELECT COUNT(*) FROM documents) // 100)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fi a JOIN fi b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS common,
             least(ha.ns, hb.ns) AS mn
      FROM cand c
      JOIN h ha ON ha.doc_id = c.id_a
      JOIN h hb ON hb.doc_id = c.id_b
    )
    SELECT id_a, id_b, common,
           CAST(common AS DOUBLE) / CAST(mn AS DOUBLE) AS containment
    FROM verified
    WHERE CAST(common AS DOUBLE) / CAST(mn AS DOUBLE) >= {threshold}
    """


@register("q64_containment_pairs", _containment_oracle(0.9))
def q64_containment_pairs(spark, sf_dir):
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.9 — the
    subset/quote-inclusion screen (a short doc embedded in a long one
    scores 1.0 here but fails every Jaccard threshold). Same capped
    inverted index and single pair shuffle as q27, with the
    containment-adapted count-only prune (see dedup.containment_pairs)."""
    from queens_spark.operators.dedup import containment_pairs

    return containment_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id", n=3, threshold=0.9
    )


def _mixture_oracle(weights_ppm: dict[str, int]) -> str:
    from queens_spark.operators.sampling import duckdb_mixture_sample_cte

    inner = duckdb_mixture_sample_cte(
        "documents", "doc_id", "lang", weights_ppm
    )
    return f"SELECT doc_id, lang FROM ({inner})"


_MIXTURE_WEIGHTS = {"en": 500_000, "de": 200_000, "es": 150_000, "fr": 150_000}


@register("q65_mixture_sample", _mixture_oracle(_MIXTURE_WEIGHTS))
def q65_mixture_sample(spark, sf_dir):
    """Training-mixture construction: deterministically sample each
    language so the output composition hits the target shares
    (en 50%, de 20%, es 15%, fr 15%) at the largest feasible total;
    zh has no weight and is dropped. One counter-width count job +
    a map-side hash filter — the corpus never shuffles (see
    operators/sampling.py:mixture_sample)."""
    from queens_spark.operators.sampling import mixture_sample

    return mixture_sample(
        load(spark, sf_dir, "documents"), "doc_id", "lang", _MIXTURE_WEIGHTS
    ).select("doc_id", "lang")


def _int8_topk_oracle(n_queries: int, k: int) -> str:
    from queens_spark.operators.similarity import INT8_DESCALE

    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
      FROM embeddings
    ), qz AS (
      SELECT vec_id, amax,
             CASE WHEN amax > 0
                  THEN list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax) AS BIGINT))
                  ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS q
      FROM b
    ), qs AS (
      SELECT * FROM qz WHERE vec_id < {n_queries}
    ), scored AS (
      SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(qs.q) + 1), i -> qs.q[i] * c.q[i])),
               (acc, v) -> acc + v) AS dot_q,
             qs.amax AS qa, c.amax AS ca
      FROM qs JOIN qz c ON c.vec_id <> qs.vec_id
    ), r AS (
      SELECT query_id, vec_id, dot_q,
             CAST(dot_q AS DOUBLE) * qa * ca / {INT8_DESCALE} AS approx_ip,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY CAST(dot_q AS DOUBLE) * qa * ca / {INT8_DESCALE} DESC, vec_id
             ) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, dot_q, approx_ip FROM r WHERE rn <= {k}
    """


@register("q66_int8_topk", _int8_topk_oracle(5, 10))
def q66_int8_topk(spark, sf_dir):
    """int8-quantized inner-product search: symmetric max-abs codes
    (1 byte/dim — 4× less scan IO than fp32 at 100 TB), exact BIGINT
    code dots rescaled by the per-vector amax, top-10 per query for a
    5-query batch. Quantize-once persisted codes + one
    TakeOrderedAndProject branch per query, unioned into a single job
    — candidates never shuffle (see similarity.int8_topk_ip)."""
    from queens_spark.operators.similarity import int8_topk_ip

    return int8_topk_ip(
        load(spark, sf_dir, "embeddings"), "embedding", "vec_id",
        query_ids=[0, 1, 2, 3, 4], k=10,
    )


def _hll_oracle() -> str:
    from queens_spark.operators.sketches import duckdb_hll_distinct_cte

    inner = duckdb_hll_distinct_cte("events", "user_id", "event_type")
    return f"""
    SELECT h.event_type, x.n_exact, h.hll_est
    FROM ({inner}) h
    JOIN (SELECT event_type, count(DISTINCT user_id) AS n_exact
          FROM events GROUP BY event_type) x
      ON x.event_type = h.event_type
    """


@register("q68_hll_distinct", _hll_oracle())
def q68_hll_distinct(spark, sf_dir):
    """Portable HyperLogLog distinct-user estimate per event type,
    alongside the exact count for calibration. Unlike
    approx_count_distinct (JVM-private HLL++ hashing), every step is
    portable integer/IEEE arithmetic, so the DuckDB oracle reproduces
    the ESTIMATE bit-for-bit — and the sketch state is mergeable
    counter rows, so at 100 TB the shuffle carries ≤ 64 registers per
    group instead of every distinct key (see operators/sketches.py).
    The exact branch here is the calibration reference, itself a
    counter-width two-phase distinct."""
    from queens_spark.operators.sketches import hll_distinct

    ev = load(spark, sf_dir, "events")
    est = hll_distinct(ev, "user_id", ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_exact", "hll_est"
    )


def _stream_hll_oracle() -> str:
    from queens_spark.operators.sketches import duckdb_hll_distinct_cte

    src = (
        "(SELECT date_trunc('hour', ts) AS window_start, "
        "date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end, "
        "event_type, user_id FROM events)"
    )
    return duckdb_hll_distinct_cte(
        src, "user_id", "window_start, window_end, event_type"
    )


@register("q69_stream_hll_distinct", _stream_hll_oracle())
def q69_stream_hll_distinct(spark, sf_dir):
    """Streaming distinct-user estimate per hourly window and event
    type: watermarked HLL REGISTER aggregation (bounded state — ≤64
    counter rows per group, where streaming COUNT(DISTINCT) would need
    unbounded key memory), finished into estimates on the sink output.
    Backfilled via availableNow and checked against the batch SQL
    oracle — the portable sketch makes streaming and batch estimates
    identical (see streaming.windowed_hll_registers)."""
    from queens_spark.operators.sketches import hll_estimate
    from queens_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        windowed_hll_registers,
    )

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    regs = run_available_now(windowed_hll_registers(ev), "q69_mem")
    return hll_estimate(regs, ["window_start", "window_end", "event_type"])


#: DuckDB twin of text.quality_score (same expression q23's oracle
#: uses, factored for reuse by the weighted-sampling oracle).
_DUCK_QUALITY = f"""(
    0.4 * least(CAST(len({_DUCK_TOKS}) AS DOUBLE) / 100.0, 1.0)
    + 0.3 * (1.0 - CASE WHEN length(text) > 0
                        THEN CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                             / length(text)
                        ELSE 0.0 END)
    + 0.3 * CASE WHEN len({_DUCK_TOKS}) > 0
                 THEN CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE) / len({_DUCK_TOKS})
                 ELSE 0.0 END)"""


def _weighted_sample_oracle() -> str:
    from queens_spark.operators.sampling import duckdb_hash_bucket

    return f"""
    SELECT doc_id, quality_bp
    FROM (SELECT doc_id,
                 CAST(floor({_DUCK_QUALITY} * 10000.0) AS BIGINT) AS quality_bp
          FROM documents)
    WHERE {duckdb_hash_bucket('doc_id')} < quality_bp
    """


@register("q70_quality_weighted_sample", _weighted_sample_oracle())
def q70_quality_weighted_sample(spark, sf_dir):
    """Quality-weighted downsampling: keep each document with
    probability ∝ its quality score (acceptance = floor(q·10000) basis
    points against the stable per-key hash) — deterministic per key,
    map-side filter, the corpus never shuffles. The weight derives
    from the same bit-portable quality expression as q23, so the
    oracle reproduces membership exactly."""
    from queens_spark.operators.sampling import weighted_hash_sample
    from queens_spark.operators.text import quality_score

    docs = load(spark, sf_dir, "documents").withColumn(
        "quality_bp",
        F.floor(quality_score("text") * 10000.0).cast("bigint"),
    )
    return weighted_hash_sample(docs, "doc_id", F.col("quality_bp")).select(
        "doc_id", "quality_bp"
    )


def _per_group_k_oracle(k: int) -> str:
    from queens_spark.operators.sampling import duckdb_hash_bucket

    return f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {duckdb_hash_bucket('doc_id')}, doc_id) AS rk
      FROM documents)
    WHERE rk <= {k}
    """


@register("q71_per_group_k_sample", _per_group_k_oracle(5))
def q71_per_group_k_sample(spark, sf_dir):
    """Deterministic uniform 5-per-source document cap ("k docs per
    domain"): rank by (stable hash, id) inside each stratum — one
    shuffle on the stratum key, membership a pure function of the keys
    present (see sampling.per_group_k_sample)."""
    from queens_spark.operators.sampling import per_group_k_sample

    return per_group_k_sample(
        load(spark, sf_dir, "documents"), "doc_id", "source", k=5
    ).select("doc_id", "source")


def _cms_oracle(top: int) -> str:
    from queens_spark.operators.sketches import duckdb_cms_cte, duckdb_cms_probe_expr

    tokens_select = f"SELECT unnest({_DUCK_TOKS}) AS token FROM documents"
    return f"""
    WITH {duckdb_cms_cte(tokens_select)},
    vocab AS (
      SELECT token, count(*) AS n_exact
      FROM ({tokens_select}) GROUP BY token
      ORDER BY n_exact DESC, token LIMIT {top}
    )
    SELECT token, n_exact, {duckdb_cms_probe_expr('token')} AS cms_est
    FROM vocab
    """


@register("q72_cms_heavy_hitters", _cms_oracle(20))
def q72_cms_heavy_hitters(spark, sf_dir):
    """Count-min frequency estimates for the top-20 corpus tokens,
    alongside exact counts. The sketch is 4·1024 counters REGARDLESS
    of vocabulary size and merges by addition — at 100 TB, per-shard
    sketches sum into a corpus sketch without re-reading tokens, where
    exact counting shuffles the whole vocabulary; estimates only ever
    over-count (bounded by 2N/w per row). Probe joins broadcast the
    4096-row sketch (see operators/sketches.py cms_*). vocab feeds two
    consumers, but its corpus-width token-count exchange is reused at
    runtime (verified: 2 ReusedExchange in the executed plan), so only
    the vocab-width top-k duplicates — a persist barrier here measured
    +27% solo at sf0.1 and was dropped."""
    from queens_spark.operators.sketches import cms_build, cms_probe
    from queens_spark.operators.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tokens("text")).alias("token"))
    sketch = cms_build(tok)
    vocab = (
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("token"))
        .limit(20)
    )
    return cms_probe(sketch, vocab).join(vocab, "token").select(
        "token", "n_exact", "cms_est"
    )


def _pipeline_oracle(quality_min: float, budget: int) -> str:
    from queens_spark.operators.sampling import duckdb_hash_split

    clean = r"""trim(regexp_replace(
        regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          'https?://[^\s]+', '<URL>', 'g'),
        '\s+', ' ', 'g'))"""
    split = duckdb_hash_split("doc_id", {"test": 1000, "train": 8000, "val": 1000})
    return f"""
    WITH base AS (
      SELECT doc_id, lang, {clean} AS text FROM documents
    ), canon AS (
      SELECT doc_id, lang, text,
             MIN(doc_id) OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
             ) AS rep
      FROM base
    ), kept AS (
      SELECT doc_id, lang, text,
             {_DUCK_QUALITY} AS quality,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
      FROM canon WHERE doc_id = rep
    ), sp AS (
      SELECT doc_id, lang, n_tokens, quality, {split} AS split
      FROM kept WHERE quality >= {quality_min}
    ), c AS (
      SELECT *, SUM(n_tokens) OVER (
        PARTITION BY split ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM sp
    )
    SELECT doc_id, lang, split, n_tokens, quality,
           CAST(floor((cum - n_tokens) / {budget}.0) AS BIGINT) AS pack_id
    FROM c
    """


@register("q73_curation_pipeline", _pipeline_oracle(0.6, 2000))
def q73_curation_pipeline(spark, sf_dir):
    """The end-to-end curation pipeline in ONE declarative plan:
    redact (email/URL masking + whitespace normalization) → exact
    dedup (drop non-canonical fingerprint copies) → quality filter
    (≥ 0.6) → leak-free train/val/test split → token-budget packing
    per split. This is the composition a training-data team actually
    runs; every stage reuses a catalog operator and the whole chain
    stays oracle-checked.

    Plan shape: the cleaning regexps run ONCE per row below the
    fingerprint window's exchange (the shuffle materializes
    clean_text, so post-shuffle stages read the column instead of
    re-deriving it — the projection-collapse footgun this codebase
    documents); then one narrow window per stage key. Two shuffles
    total (fingerprint window, split packing window) — both carry
    (id, clean_text)-width rows, and the second partitions on the
    3-way split key."""
    from queens_spark.operators.sampling import hash_split
    from queens_spark.operators.text import (
        doc_fingerprint,
        mask_pii,
        normalize_text,
        quality_score,
        token_count,
    )

    base = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", normalize_text(mask_pii("text")).alias("clean_text")
    )
    rep = F.min("doc_id").over(
        Window.partitionBy(doc_fingerprint("clean_text"))
    )
    canon = base.withColumn("rep", rep).where(F.col("doc_id") == F.col("rep"))
    kept = canon.select(
        "doc_id", "lang",
        quality_score("clean_text").alias("quality"),
        token_count("clean_text").alias("n_tokens"),
    ).where(F.col("quality") >= 0.6)
    sp = kept.withColumn(
        "split",
        hash_split("doc_id", {"test": 1000, "train": 8000, "val": 1000}),
    )
    w = (
        Window.partitionBy("split").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sp.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(2000.0))
        .cast("bigint"),
    ).select("doc_id", "lang", "split", "n_tokens", "quality", "pack_id")


def _centroid_oracle() -> str:
    from queens_spark.operators.similarity import QUANT, duckdb_quantize

    return f"""
    WITH q AS (
      SELECT label, {duckdb_quantize('embedding')} AS qv FROM embeddings
    ), d AS (
      SELECT label, i AS dim, qv[i] AS v
      FROM q, unnest(range(1, len(qv) + 1)) AS u(i)
    )
    SELECT label, CAST(dim AS INT) AS dim,
           COUNT(*) AS n,
           CAST(SUM(v) AS BIGINT) * 1000 // COUNT(*) AS centroid_e6
    FROM d GROUP BY label, dim
    """


@register("q74_label_centroids", _centroid_oracle())
def q74_label_centroids(spark, sf_dir):
    """Exact per-label embedding centroids (class prototypes): fixed-
    point quantized components posexploded to (label, dim) counters —
    the shuffle carries labels × 64 dimension sums, never vectors, with
    map-side partial aggregation; the scaled-integer mean (sum·1000 div
    n over ×1000-quantized components ⇒ e6 fixed point) is exact on
    both engines. The same shape computes k-means centroids (q57) —
    this is the per-class variant a curation pipeline uses for
    prototype distances and outlier screens."""
    from queens_spark.operators.similarity import quantize

    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode(quantize("embedding")).alias("pos", "v")
        )
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("sum(v) * 1000 div count(1)").alias("centroid_e6"),
        )
        .select("label", "dim", "n", "centroid_e6")
    )


def _funnel_oracle(window_us: int) -> str:
    return f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT v.user_id, v.first_view,
             MIN(e.ts) AS first_purchase
      FROM v JOIN events e
        ON e.user_id = v.user_id
       AND e.event_type = 'purchase'
       AND e.ts > v.first_view
       AND epoch_us(e.ts) - epoch_us(v.first_view) <= {window_us}
      GROUP BY v.user_id, v.first_view
    )
    SELECT
      (SELECT COUNT(*) FROM v) AS n_viewed,
      (SELECT COUNT(*) FROM p) AS n_converted,
      (SELECT COUNT(*) FROM p) * 10000
        // (SELECT greatest(COUNT(*), 1) FROM v) AS conversion_bp
    """


@register("q75_event_funnel", _funnel_oracle(3_600_000_000))
def q75_event_funnel(spark, sf_dir):
    """Two-step conversion funnel: users whose first 'view' is followed
    by a 'purchase' within one hour. Plan: one counter-width first-view
    aggregation per user, re-joined to purchases on the user key (one
    shuffle each side; at 100 TB both sides hash-join on user_id and
    the residual time predicates filter in the join), then scalar
    counts. Conversion emitted in integer basis points. The first-view
    frame feeds two consumers (the purchase join and its own count),
    so the user-width frame rides the size-gated _barrier — two corpus
    scans, not three, once the corpus outgrows the cache-build cost."""
    ev = load(spark, sf_dir, "events")
    v = _barrier(
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view")),
        sf_dir, "events",
    )
    p = (
        v.join(
            ev.where(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("pts")
            ),
            "user_id",
        )
        .where(
            (F.col("pts") > F.col("first_view"))
            & (
                F.unix_micros("pts") - F.unix_micros("first_view")
                <= F.lit(3_600_000_000)
            )
        )
        .groupBy("user_id")
        .agg(F.min("pts").alias("first_purchase"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewed"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_converted"))
    return nv.crossJoin(np_).select(
        "n_viewed",
        "n_converted",
        F.expr("n_converted * 10000 div greatest(n_viewed, 1)").alias(
            "conversion_bp"
        ),
    )


def _retention_oracle() -> str:
    return """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST(day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS n_active
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """


@register("q76_cohort_retention", _retention_oracle())
def q76_cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-seen day,
    counted on each of their first 7 active day-offsets. Two
    counter-width aggregations around one user-key join (the firsts
    frame is |users| rows — AQE broadcasts it when small, sound
    shuffled join otherwise); distinct (user, offset) dedups
    map-side before the final count."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    activity = (
        ev.select("user_id", F.col("ts").cast("date").alias("day"))
        .join(firsts, "user_id")
        .select(
            "user_id", "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.where(F.col("day_offset") <= 7)
        .groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def _rrf_oracle(query_id: int, pool: int, k: int, rrf_k: int) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    return f"""
    WITH qt AS (
      SELECT unnest(list_distinct({_DUCK_TOKS})) AS tok
      FROM documents WHERE doc_id = {query_id}
    ), dt AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS tok
      FROM documents WHERE doc_id <> {query_id}
    ), kw AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS score
      FROM dt JOIN qt USING (tok) GROUP BY doc_id
    ), kwr AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rank
      FROM (SELECT * FROM kw WHERE score > 0 ORDER BY score DESC, doc_id LIMIT {pool})
    ), v AS (
      SELECT vec_id, {qv} AS q FROM embeddings
    ), n AS (
      SELECT vec_id, q, {duckdb_int_dot('q', 'q')} AS n2 FROM v
    ), vs AS (
      SELECT c.vec_id AS doc_id,
             CAST({duckdb_int_dot('c.q', 'qq.q')} AS DOUBLE)
               / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(qq.n2 AS DOUBLE))) AS cosine
      FROM n c, (SELECT q, n2 FROM n WHERE vec_id = {query_id}) qq
      WHERE c.vec_id <> {query_id}
    ), vr AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS vec_rank
      FROM (SELECT * FROM vs ORDER BY cosine DESC, doc_id LIMIT {pool})
    ), fused AS (
      SELECT coalesce(kwr.doc_id, vr.doc_id) AS doc_id,
             coalesce(1000000000000 // ({rrf_k} + kw_rank), 0)
               + coalesce(1000000000000 // ({rrf_k} + vec_rank), 0) AS rrf_e12,
             kw_rank, vec_rank
      FROM kwr FULL OUTER JOIN vr ON kwr.doc_id = vr.doc_id
    )
    SELECT doc_id, rrf_e12, kw_rank, vec_rank
    FROM fused ORDER BY rrf_e12 DESC, doc_id LIMIT {k}
    """


@register("q77_hybrid_rrf_search", _rrf_oracle(0, 50, 10, 60))
def q77_hybrid_rrf_search(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion: a keyword ranking
    (distinct-token overlap with the query document) and a vector
    ranking (exact cosine against the query embedding) each produce a
    top-50 pool; RRF fuses them as Σ ⌊1e12/(60+rank)⌋ — the scaled-
    integer form keeps the fusion score exact and order-free where the
    float Σ1/(60+r) would be summation-order-dependent.

    Scale shape: both pools come from TakeOrderedAndProject passes
    (per-partition heaps; candidates never globally sort), ranks are
    assigned by a window over the 50-row pools, and the fusion join
    touches ≤ 2·pool rows. The keyword side broadcasts the query
    token array as a literal; the vector side is q30's plan."""
    from queens_spark.operators.text import tokens as _tokens
    from queens_spark.operators.similarity import (
        cosine_from_ints,
        int_dot,
        int_norm2,
        quantize,
    )

    query_id, pool, k, rrf_k = 0, 50, 10, 60
    docs = load(spark, sf_dir, "documents")
    q_toks = docs.where(F.col("doc_id") == query_id).select(
        F.array_distinct(_tokens("text")).alias("t")
    ).collect()[0]["t"]
    q_arr = F.array(*[F.lit(t) for t in q_toks])
    kw_pool = (
        docs.where(F.col("doc_id") != query_id)
        .select(
            "doc_id",
            F.size(F.array_intersect(F.array_distinct(_tokens("text")), q_arr))
            .cast("bigint").alias("score"),
        )
        .where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(pool)
    )
    kwr = kw_pool.withColumn(
        "kw_rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), "doc_id")
        ).cast("bigint"),
    ).select("doc_id", "kw_rank")

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == query_id).select("embedding").first()[0]
    from queens_spark.operators.similarity import lit_array

    qq = quantize(lit_array(qvec, "double"))
    cv = quantize("embedding")
    cos = cosine_from_ints(int_dot(cv, qq), int_norm2(cv), int_norm2(qq))
    vec_pool = (
        emb.where(F.col("vec_id") != query_id)
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(pool)
    )
    vr = vec_pool.withColumn(
        "vec_rank",
        F.row_number().over(
            Window.orderBy(F.col("cosine").desc(), "doc_id")
        ).cast("bigint"),
    ).select("doc_id", "vec_rank")

    fused = (
        kwr.join(vr, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.expr(f"1000000000000 div ({rrf_k} + kw_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000000000 div ({rrf_k} + vec_rank)"), F.lit(0)
                )
            ).alias("rrf_e12"),
            "kw_rank",
            "vec_rank",
        )
    )
    return fused.orderBy(F.col("rrf_e12").desc(), "doc_id").limit(k)


_DUCK_BIGRAMS = (
    f"CASE WHEN len({_DUCK_TOKS}) >= 2 THEN "
    f"list_transform(range(1, len({_DUCK_TOKS})), "
    f"i -> {_DUCK_TOKS}[i] || ' ' || {_DUCK_TOKS}[i + 1]) ELSE [] END"
)


def _bigram_lm_oracle(top: int) -> str:
    return f"""
    WITH pos AS (
      SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      FROM (SELECT unnest({_DUCK_BIGRAMS}) AS bg FROM documents)
    ), c2 AS (
      SELECT w1, w2, count(*) AS c2 FROM pos GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
    )
    SELECT c2.w1 AS w1, w2, c2, c1, c2 * 1000000 // c1 AS p_e6
    FROM c2 JOIN c1 ON c2.w1 = c1.w1
    ORDER BY c2 DESC, w1, w2 LIMIT {top}
    """


@register("q78_bigram_lm", _bigram_lm_oracle(50))
def q78_bigram_lm(spark, sf_dir):
    """Maximum-likelihood bigram language model head: top-50 bigrams
    with exact fixed-point conditional probabilities P(w2|w1) — the
    n-gram-LM training primitive. Two counter-width aggregations and
    a w1-key join; the corpus shuffles only as distinct bigram
    counters (see corpus.bigram_lm)."""
    from queens_spark.operators.corpus import bigram_lm

    return (
        bigram_lm(load(spark, sf_dir, "documents"), "text", "doc_id")
        .orderBy(F.col("c2").desc(), "w1", "w2")
        .limit(50)
    )


def _lm_scores_oracle() -> str:
    return f"""
    WITH pos AS (
      SELECT doc_id AS doc,
             string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      FROM (SELECT doc_id, unnest({_DUCK_BIGRAMS}) AS bg FROM documents)
    ), c2 AS (
      SELECT w1, w2, count(*) AS c2 FROM pos GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
    ), lm AS (
      SELECT c2.w1 AS w1, w2, c2 * 1000000 // c1 AS p_e6
      FROM c2 JOIN c1 ON c2.w1 = c1.w1
    )
    SELECT doc, count(*) AS n_bigrams,
           CAST(SUM(p_e6) AS BIGINT) // count(*) AS avg_p_e6
    FROM pos JOIN lm ON pos.w1 = lm.w1 AND pos.w2 = lm.w2
    GROUP BY doc
    """


@register("q79_lm_doc_scores", _lm_scores_oracle())
def q79_lm_doc_scores(spark, sf_dir):
    """Fluency screening under the corpus's own bigram LM: per-doc
    mean conditional probability in exact fixed point — the
    deterministic stand-in for perplexity filtering (log-probs are
    not bit-portable; the mean conditional probability ranks
    similarly for screening). LM train + scoring join on the
    (w1, w2) key (see corpus.lm_doc_scores)."""
    from queens_spark.operators.corpus import lm_doc_scores

    return lm_doc_scores(load(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "q80_hopping_windows",
    """
    WITH w AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start, event_type, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, event_type, value FROM events
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_e2
    FROM w GROUP BY 1, 2, 3
    """,
)
def q80_hopping_windows(spark, sf_dir):
    """Hopping (sliding) window aggregation in batch: 1-hour windows
    every 30 minutes — each event lands in exactly duration/slide = 2
    windows. Spark's window() generates the membership inline (no
    self-union), the aggregation stays one partial→final hash agg, and
    the same plan runs unchanged as a watermarked stream. DECIMAL
    accumulation keeps sums order-independent; the oracle mirrors
    membership with a two-shift union."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_dec("value")) * 100).cast("long").alias("total_value_e2"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "total_value_e2",
        )
    )


@register(
    "q81_price_histogram",
    """
    SELECT (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000)
             * 100000 AS bin_start_e2,
           COUNT(*) AS n,
           CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS min_e2,
           CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS max_e2
    FROM lineitem
    GROUP BY 1
    """,
)
def q81_price_histogram(spark, sf_dir):
    """Fixed-width numeric histogram over lineitem prices ($1000
    bins): binning in exact cents (decimal→scaled-int, integer
    division) so bucket boundaries are bit-identical cross-engine —
    float binning misplaces boundary values by one ulp. One
    partial→final hash aggregation; bins are the group keys, so the
    shuffle is histogram-width."""
    li = load(spark, sf_dir, "lineitem")
    cents = (_dec("l_extendedprice") * 100).cast("long")
    return (
        li.select(
            cents.alias("cents"),
            _dec("l_extendedprice").alias("p"),
        )
        .groupBy(F.expr("cents div 100000 * 100000").alias("bin_start_e2"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.min("p") * 100).cast("long").alias("min_e2"),
            (F.max("p") * 100).cast("long").alias("max_e2"),
        )
    )


def _outlier_oracle(k: int) -> str:
    from queens_spark.operators.similarity import duckdb_quantize

    return f"""
    WITH q AS (
      SELECT vec_id, label, {duckdb_quantize('embedding')} AS qv FROM embeddings
    ), d AS (
      SELECT vec_id, label, i AS dim, qv[i] AS v
      FROM q, unnest(range(1, len(qv) + 1)) AS u(i)
    ), cent AS (
      SELECT label, dim, CAST(SUM(v) AS BIGINT) * 1000 // COUNT(*) AS c_e6
      FROM d GROUP BY label, dim
    ), dist AS (
      SELECT d.vec_id, d.label,
             SUM((d.v * 1000 - c.c_e6) * (d.v * 1000 - c.c_e6)) AS dist2_e12
      FROM d JOIN cent c ON c.label = d.label AND c.dim = d.dim
      GROUP BY d.vec_id, d.label
    )
    SELECT vec_id, label, CAST(dist2_e12 AS BIGINT) AS dist2_e12, rk AS rank
    FROM (SELECT *, CAST(row_number() OVER (
            PARTITION BY label ORDER BY dist2_e12 DESC, vec_id) AS BIGINT) AS rk
          FROM dist)
    WHERE rk <= {k}
    """


@register("q82_label_outliers", _outlier_oracle(5))
def q82_label_outliers(spark, sf_dir):
    """Mislabeled-sample screen: the 5 vectors FURTHEST from their own
    label's centroid, per label — exact squared distance in e12 fixed
    point over the ×1000-quantized components, so both engines agree
    bit-for-bit (d_i ≤ ~2e6 ⇒ Σd² < 2^63 for d ≤ 2000 dims).

    Scale shape: centroids come from the q74 counter aggregation
    ((label, dim) sums — never vectors); they broadcast back as a
    per-label e6 array, the distance is a zero-shuffle zip_with fold,
    and the per-label top-5 window runs over label-sized groups."""
    from queens_spark.operators.similarity import quantize

    emb = load(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", "label", quantize("embedding").alias("qv"))
    cent = (
        q.select("label", F.posexplode("qv").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.expr("sum(v) * 1000 div count(1)").alias("c_e6"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("c_e6")))
            ).alias("cs")
        )
        .select("label", F.transform("cs", lambda s: s["c_e6"]).alias("c"))
    )
    dist = (
        q.join(F.broadcast(cent), "label")
        .select(
            "vec_id", "label",
            F.aggregate(
                F.zip_with(
                    "qv", "c", lambda v, c: (v * 1000 - c) * (v * 1000 - c)
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("dist2_e12"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dist2_e12").desc(), "vec_id"
    )
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
        .select("vec_id", "label", "dist2_e12", "rank")
    )

# =====================================================================
# Round 5: batch retrieval and sketch-merge rollups
# =====================================================================

@register("q83_batch_topk", _int8_topk_oracle(100, 10))
def q83_batch_topk(spark, sf_dir):
    """TABLE-driven retrieval: top-10 inner-product neighbors for a
    100-query block in ONE plan — the production-batch shape (q66's
    per-query TakeOrdered branches are right for interactive handfuls,
    not for scoring a query table).

    Scale shape (operators/similarity.py:batch_topk_ip): the int8
    query block broadcasts; one Arrow-batched mapInPandas pass streams
    the corpus, computing each batch × query code-dot as a single
    int64 matmul with per-query running top-k pools — the corpus
    NEVER shuffles, and only ~k·|queries| candidate rows per partition
    reach the final exact window rank. Same quantization + fixed IEEE
    rescale order as q66, so the oracle is bit-identical."""
    from queens_spark.operators.similarity import batch_topk_ip

    emb = load(spark, sf_dir, "embeddings")
    return batch_topk_ip(
        emb.where(F.col("vec_id") < 100).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        emb,
        "embedding",
        "vec_id",
        k=10,
        exclude_self=True,
    )


def _hll_merge_oracle() -> str:
    from queens_spark.operators.sketches import duckdb_hll_distinct_cte

    # max is associative: merging per-shard register frames must equal
    # the single-pass estimator over the whole corpus, bit-for-bit
    return duckdb_hll_distinct_cte("events", "user_id", "event_type")


@register("q84_hll_shard_merge", _hll_merge_oracle())
def q84_hll_shard_merge(spark, sf_dir):
    """Sketch-merge rollup — the actual 100 TB shape: three register
    frames are built INDEPENDENTLY (events sharded by day-of-month,
    like per-day rollup files), then merged with union + per-(group,
    register) max and finished. Because max is associative and the
    hash is deterministic, the merged estimate is bit-identical to a
    single pass over the whole corpus — which is exactly what the
    oracle computes. Each shard's state is ≤ 64 counter rows per
    group; merging never re-reads keys (operators/sketches.py:
    hll_merge)."""
    from queens_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    ev = load(spark, sf_dir, "events")
    # The three day-of-month shards partition the rows, so their
    # per-shard registers all come out of ONE corpus pass with the
    # shard id as an extra register group key (three .where() branches
    # would scan the events table three times for the same rows). The
    # merge is the same union + per-(group, reg) max — max is
    # associative over any row partition, so registers and estimate
    # are row-identical to independently built shards.
    shards = hll_registers(
        ev.withColumn("__shard", F.dayofmonth("ts") % 3),
        "user_id",
        ["event_type", "__shard"],
    ).drop("__shard")
    return hll_estimate(hll_merge([shards], ["event_type"]), ["event_type"])


def _dup_ngram_oracle(n: int, min_df: int) -> str:
    from queens_spark.operators.dedup import duckdb_shingle_hashes

    sh = duckdb_shingle_hashes("text", n)
    return f"""
    WITH h AS (
      SELECT doc_id, unnest({sh}) AS sh FROM documents
    ), freq AS (
      SELECT sh FROM h GROUP BY sh HAVING count(*) >= {min_df}
    ), dup AS (
      SELECT doc_id, count(*) AS n_dup
      FROM h WHERE sh IN (SELECT sh FROM freq)
      GROUP BY doc_id
    ), base AS (
      SELECT doc_id, len({sh}) AS n_shingles FROM documents
      WHERE len({sh}) > 0
    )
    SELECT b.doc_id, b.n_shingles,
           coalesce(d.n_dup, 0) AS n_dup,
           CAST(coalesce(d.n_dup, 0) AS DOUBLE)
             / CAST(b.n_shingles AS DOUBLE) AS dup_frac
    FROM base b LEFT JOIN dup d ON d.doc_id = b.doc_id
    """


@register("q85_dup_ngram_fraction", _dup_ngram_oracle(5, 3))
def q85_dup_ngram_fraction(spark, sf_dir):
    """ACROSS-corpus duplicated 5-gram fraction per document — the
    RefinedWeb/CCNet boilerplate signal (q62's Gopher screens measure
    repetition WITHIN a document; this measures how much of a doc is
    duplicated ELSEWHERE in the corpus). Scale shape
    (operators/dedup.py:duplicated_shingle_stats): one persisted
    shingle pass; the df ≥ 3 shingle set is NOT provably bounded so it
    deliberately stays a shuffled semi-join (AQE reuses the sh_hash
    exchange), never a broadcast."""
    from queens_spark.operators.dedup import duplicated_shingle_stats

    docs = load(spark, sf_dir, "documents")
    return duplicated_shingle_stats(
        docs, "text", "doc_id", n=5, min_df=3
    ).select(
        F.col("doc").alias("doc_id"), "n_shingles", "n_dup", "dup_frac"
    )


def _semdedup_oracle(threshold: float) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    cos = (
        f"CAST({duckdb_int_dot('a.q', 'b.q')} AS DOUBLE)"
        f" / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, {qv} AS q FROM embeddings
    ), n AS (
      SELECT vec_id, q, {duckdb_int_dot('q', 'q')} AS n2 FROM v
    ), cents AS (
      SELECT vec_id AS centroid_id, q AS cq, n2 AS cn2 FROM n WHERE vec_id % 200 = 0
    ), assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)
                   / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC,
                 c.centroid_id ASC) AS rk
        FROM n v, cents c
      ) WHERE rk = 1
    ), av AS (
      SELECT a.vec_id, a.centroid_id, n.q, n.n2
      FROM assign a JOIN n ON n.vec_id = a.vec_id
    ), losers AS (
      SELECT DISTINCT b.vec_id
      FROM av a JOIN av b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {cos} >= {threshold}
    )
    SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id
    FROM av WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    """


@register("q86_semantic_dedup", _semdedup_oracle(0.4))
def q86_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication: nearest-centroid cluster
    assignment (centroids: vec_id % 200 == 0, as q33), within-cluster
    pairs at cosine ≥ 0.4 drop their higher id (0.4 matches q31's
    near-dup regime for this synthetic corpus), survivors returned
    with their cluster. The quadratic term is bounded to Σ cluster²
    (near-dups co-locate; cross-cluster pairs are forfeited by design
    — recall rises with finer centroids). Verification is one
    Arrow-batched numpy pass over the cluster-joined pairs
    (operators/similarity.py:semantic_dedup)."""
    from queens_spark.operators.similarity import (
        coarse_centroids,
        semantic_dedup,
    )

    emb = load(spark, sf_dir, "embeddings")
    cents = coarse_centroids(
        emb, "embedding", "vec_id", F.col("vec_id") % 200 == 0
    )
    return semantic_dedup(emb, "embedding", "vec_id", threshold=0.4,
                          centroids_df=cents)


def _stream_cms_oracle(n_probe: int) -> str:
    from queens_spark.operators.sketches import CMS_A, CMS_B, CMS_D, CMS_P, CMS_W
    from queens_spark.operators.text import duckdb_char_poly_hash

    h = duckdb_char_poly_hash("CAST(user_id AS VARCHAR)")
    rows = " UNION ALL ".join(
        f"SELECT ws, {j} AS cms_row, "
        f"(__h * {CMS_A[j]} + {CMS_B[j]}) % {CMS_P} % {CMS_W} AS bucket FROM th"
        for j in range(CMS_D)
    )
    ph = duckdb_char_poly_hash("CAST(u AS VARCHAR)")
    mins = ", ".join(
        f"coalesce((SELECT cnt FROM cms c WHERE c.ws = w.ws AND c.cms_row = {j} "
        f"AND c.bucket = (p.__ph * {CMS_A[j]} + {CMS_B[j]}) % {CMS_P} % {CMS_W}), 0)"
        for j in range(CMS_D)
    )
    return f"""
    WITH th AS (
      SELECT date_trunc('hour', ts) AS ws, {h} AS __h FROM events
    ), cms AS (
      SELECT ws, cms_row, bucket, count(*) AS cnt
      FROM ({rows}) GROUP BY ws, cms_row, bucket
    ), probes AS (
      SELECT u AS user_id, {ph} AS __ph FROM range(0, {n_probe}) t(u)
    ), wins AS (
      SELECT DISTINCT ws FROM th
    )
    SELECT w.ws AS window_start, w.ws + INTERVAL 1 HOUR AS window_end,
           p.user_id, least({mins}) AS cms_est
    FROM wins w, probes p
    """


@register("q87_stream_cms_counts", _stream_cms_oracle(10))
def q87_stream_cms_counts(spark, sf_dir):
    """Streaming per-window event-frequency sketch: COUNT-MIN counters
    aggregated per hourly window (bounded state — ≤ 4096 counter rows
    per window where an exact per-user count is unbounded under key
    churn), backfilled via availableNow and probed read-side for users
    0–9. The shared build/probe hasher makes streaming counters equal
    batch counters exactly, so the batch SQL oracle reproduces every
    estimate (streaming.windowed_cms_counters)."""
    from queens_spark.operators.sketches import _cms_buckets
    from queens_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        windowed_cms_counters,
    )

    # fan_out: see q69 — the d CMS bucket hashes per event are the map
    # cost; size-gated round-robin, zero added shuffle at scale
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet", fan_out=True)
    counters = run_available_now(windowed_cms_counters(ev), "q87_mem")
    probes = spark.createDataFrame(
        [(u, str(u)) for u in range(10)], "user_id bigint, tok string"
    ).select(
        "user_id", F.explode(_cms_buckets("tok")).alias("b")
    ).select(
        "user_id",
        F.col("b.cms_row").alias("p_row"),
        F.col("b.bucket").alias("p_bucket"),
    )
    # aliases give the window columns fresh attribute ids — wins derives
    # from counters, so joining them back by name is a self-join
    wins = counters.select(
        F.col("window_start").alias("ws"), F.col("window_end").alias("we")
    ).distinct()
    return (
        wins.crossJoin(probes)
        .join(
            counters,
            (F.col("ws") == F.col("window_start"))
            & (F.col("we") == F.col("window_end"))
            & (F.col("p_row") == F.col("cms_row"))
            & (F.col("p_bucket") == F.col("bucket")),
            "left",
        )
        .groupBy("ws", "we", "user_id")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
        .select(
            F.col("ws").alias("window_start"),
            F.col("we").alias("window_end"),
            "user_id", "cms_est",
        )
    )


@register(
    "q88_source_audit",
    f"""
    WITH t AS (
      SELECT source, n_chars,
             len({_DUCK_TOKS}) AS n_tokens
      FROM documents
    ), agg AS (
      SELECT source, count(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM t GROUP BY source
    ), qs AS (
      SELECT source,
             quantile_cont(n_chars, 0.50) AS chars_p50,
             quantile_cont(n_chars, 0.95) AS chars_p95
      FROM t GROUP BY source
    )
    SELECT a.source, a.n_docs, a.total_tokens, q.chars_p50, q.chars_p95
    FROM agg a JOIN qs q ON q.source = a.source
    """,
)
def q88_source_audit(spark, sf_dir):
    """Per-source corpus audit — the composition report a curation run
    starts from: document count, total whitespace tokens, and exact
    length percentiles per source. Counts/sums are one partial→final
    aggregation; the percentiles come from the distributed two-phase
    rank (operators/quantiles.py — no per-group buffer), so the report
    holds at any source size."""
    from queens_spark.operators.quantiles import exact_group_quantiles
    from queens_spark.operators.text import tokens

    docs = load(spark, sf_dir, "documents")
    agg = docs.select(
        "source", F.size(tokens("text")).alias("n_tokens")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    qs = exact_group_quantiles(
        docs, "source", "n_chars", {"chars_p50": 0.50, "chars_p95": 0.95}
    )
    return agg.join(qs, "source")


#: BPE-ish pre-tokenization pattern: letter runs, GPT-2-style <=3-digit
#: number chunks, punctuation runs. Deliberately lookahead-free so Java
#: regex (Spark) and RE2 (DuckDB) agree exactly; the alternation's
#: branches match disjoint character classes, so leftmost-first
#: semantics cannot diverge either.
_BPE_PATTERN = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]+"


@register(
    "q89_bpe_token_stats",
    f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe_tokens,
             len({_DUCK_TOKS}) AS n_ws_tokens
      FROM documents
    )
    SELECT doc_id, n_bpe_tokens, n_ws_tokens,
           CASE WHEN n_bpe_tokens > 0
                THEN CAST(n_chars AS DOUBLE) / n_bpe_tokens END
             AS chars_per_token
    FROM t
    """,
)
def q89_bpe_token_stats(spark, sf_dir):
    """Token-budget accounting with a BPE-ish regex pre-tokenizer
    (letter runs / ≤3-digit number chunks / punctuation runs — the
    GPT-2 pre-tokenization shape, minus the lookahead RE2 cannot run)
    alongside the whitespace count: chars-per-token is the standard
    proxy for how expensive a document is to tokenize for real. Pure
    per-row JVM regex — zero shuffle."""
    from queens_spark.operators.text import tokens

    docs = load(spark, sf_dir, "documents")
    n_bpe = F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)"))
    return docs.select(
        "doc_id",
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        F.size(tokens("text")).cast("bigint").alias("n_ws_tokens"),
        F.when(
            n_bpe > 0, F.col("n_chars").cast("double") / n_bpe
        ).alias("chars_per_token"),
    )


def _cluster_split_oracle(threshold: float) -> str:
    from queens_spark.operators.sampling import duckdb_hash_split

    comp_sql = _components_oracle(threshold)
    split = duckdb_hash_split(
        "component_id", {"train": 9000, "test": 1000}
    )
    return f"""
    WITH comp AS ({comp_sql})
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT component_id) AS n_components,
           MIN(doc_id) AS min_doc_id
    FROM (SELECT doc_id, component_id, {split} AS split FROM comp)
    GROUP BY split
    """


@register("q90_cluster_aware_split", _cluster_split_oracle(0.8))
def q90_cluster_aware_split(spark, sf_dir):
    """LEAK-FREE train/test split: assign whole DEDUP CLUSTERS, not
    documents, to splits — q59's per-doc hash split is deterministic
    but lets two near-duplicate documents straddle train and test (the
    classic eval-contamination bug); hashing the component_id instead
    makes straddling impossible by construction. Composition: the
    STORED cluster map's component assignment (one artifact read —
    store/cluster_map.py, clustering paid once per corpus) + the
    portable hash split (q59) + a counter-width report."""
    from queens_spark.operators.sampling import hash_split

    comps = _documents_clusters(spark, sf_dir).members()
    return (
        comps.select(
            "doc_id", "component_id",
            hash_split("component_id", {"train": 9000, "test": 1000})
            .alias("split"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("component_id").alias("n_components"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def _lang_confusion_oracle() -> str:
    # reuse q24's predictor CTE, joined back to the labeled lang column
    pred = _lang_oracle()
    return f"""
    WITH pred AS ({pred}),
    joined AS (
      SELECT d.lang, p.lang_pred FROM documents d
      JOIN pred p ON p.doc_id = d.doc_id
    ), cell AS (
      SELECT lang, lang_pred, COUNT(*) AS n_docs
      FROM joined GROUP BY lang, lang_pred
    )
    SELECT lang, lang_pred, n_docs,
           n_docs * 10000 // SUM(n_docs) OVER (PARTITION BY lang)
             AS share_bp
    FROM cell
    """


@register("q91_langid_confusion", _lang_confusion_oracle())
def q91_langid_confusion(spark, sf_dir):
    """Classifier-evaluation query: the confusion matrix of the
    heuristic language-ID (q24) against the labeled ``lang`` column,
    with each cell's share of its labeled language in exact basis
    points (integer division — no float summation order to disagree
    on). The matrix is |langs|² cells: the groupBy shuffle carries
    counters, and the per-label share is a window over label-sized
    groups of the CELL table, never the corpus."""
    from queens_spark.operators import text as tx

    docs = load(spark, sf_dir, "documents")
    cell = (
        docs.select("lang", tx.lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return cell.select(
        "lang", "lang_pred", "n_docs",
        F.expr("n_docs * 10000 div sum(n_docs) over (partition by lang)")
        .alias("share_bp"),
    )


@register(
    "q92_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type AS src,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS dst
      FROM events
    ), cell AS (
      SELECT src, dst, COUNT(*) AS n
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           n * 1000000 // SUM(n) OVER (PARTITION BY src) AS p_ppm
    FROM cell
    """,
)
def q92_event_transitions(spark, sf_dir):
    """User-journey transition matrix (the Markov-chain training
    primitive for behavioral models): per user, consecutive event
    pairs by (ts, event_id) — the id breaks timestamp ties so the
    sequence is deterministic on any engine — then (src, dst) counts
    and exact ppm transition probabilities (integer division). One
    user-keyed window shuffle over the events, then counter-width
    cells."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cell = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cell.select(
        "src", "dst", "n",
        F.expr("n * 1000000 div sum(n) over (partition by src)")
        .alias("p_ppm"),
    )


@register(
    "q93_salted_skew_join",
    """
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
             AS sum_qty,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)
def q93_salted_skew_join(spark, sf_dir):
    """Hot-key-proof fact join via explicit salting
    (operators/skew.py): the lineitem side's partkey is salted 8 ways
    by a hash of its unique order line, the part side is replicated
    once per salt, and the shuffle's worst bucket shrinks ~8× — the
    planner-independent fix for the single-hot-key case AQE's stats
    can miss. Results are exactly the plain join's (the oracle IS the
    plain join); sums accumulate in DECIMAL so aggregation order can't
    show through."""
    from queens_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_orderkey", "l_linenumber"
    ).withColumn(
        "__uid",
        F.concat_ws("_", "l_orderkey", "l_linenumber"),
    )
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(li, part, "l_partkey", salt_from="__uid", n_salts=8)
    return (
        joined.groupBy("p_brand")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _zorder_oracle(bits: int, bucket_shift: int) -> str:
    from queens_spark.store.zorder import duckdb_zorder_key

    z = duckdb_zorder_key("l_partkey", "l_suppkey", bits)
    return f"""
    WITH z AS (SELECT {z} AS zkey FROM lineitem)
    SELECT zkey >> {bucket_shift} AS z_bucket,
           COUNT(*) AS n_rows,
           MIN(zkey) AS z_min, MAX(zkey) AS z_max
    FROM z GROUP BY z_bucket
    """


@register("q94_zorder_key", _zorder_oracle(21, 34))
def q94_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (l_partkey, l_suppkey),
    summarized per top-bits bucket — the multi-column layout device
    behind min/max scan pruning (store/zorder.py: each file covers one
    contiguous z-range, so its bounding box is tight on BOTH columns
    and a selective 2-D predicate skips most files; the direct
    bbox-tightness property is asserted in tests/test_zorder.py).
    Pure bit arithmetic, identical in both engines."""
    from queens_spark.store.zorder import zorder_key

    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(zorder_key("l_partkey", "l_suppkey", 21).alias("zkey"))
        .groupBy(F.shiftright("zkey", 34).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zkey").alias("z_min"),
            F.max("zkey").alias("z_max"),
        )
    )


def _cross_corpus_oracle(threshold: float) -> str:
    # bipartite twin of _jaccard_oracle: train = odd doc_ids, eval =
    # even (the parity split actually crosses the corpus's near-dup
    # pairs, unlike q61's sparse %100 eval); the df cap is computed
    # over the union (= the whole documents table here), matching the
    # Spark side's combined hot list
    from queens_spark.operators.dedup import duckdb_shingle_hashes

    return f"""
    WITH h AS (
      SELECT doc_id, len(hs) AS ns, hs FROM (
        SELECT doc_id, {duckdb_shingle_hashes('text')} AS hs FROM documents)
      WHERE len(hs) > 0
    ), ex AS (
      SELECT doc_id, unnest(hs) AS sh_hash FROM h
    ), fi AS (
      SELECT doc_id, sh_hash FROM (
        SELECT doc_id, sh_hash,
               COUNT(*) OVER (PARTITION BY sh_hash) AS df
        FROM ex)
      WHERE df <= greatest(50, (SELECT COUNT(*) FROM documents) // 100)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
      FROM fi a JOIN fi b ON a.sh_hash = b.sh_hash
      WHERE a.doc_id % 2 <> 0 AND b.doc_id % 2 = 0
    ), verified AS (
      SELECT c.train_id, c.eval_id,
             CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS common,
             ha.ns AS na, hb.ns AS nb
      FROM cand c
      JOIN h ha ON ha.doc_id = c.train_id
      JOIN h hb ON hb.doc_id = c.eval_id
    )
    SELECT train_id, eval_id, common,
           CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
    FROM verified
    WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= {threshold}
    """


@register("q95_cross_corpus_neardup", _cross_corpus_oracle(0.5))
def q95_cross_corpus_neardup(spark, sf_dir):
    """FUZZY decontamination report: actual train↔eval near-duplicate
    pairs with their Jaccard (q61 only counts raw shingle overlap).
    Bipartite capped inverted index with ONE hot list over both
    corpora's postings; in the hot-free regime the pair shuffle emits
    exact verified pairs directly (operators/dedup.py:
    cross_corpus_neardup_pairs)."""
    from queens_spark.operators.dedup import cross_corpus_neardup_pairs

    docs = load(spark, sf_dir, "documents")
    return cross_corpus_neardup_pairs(
        docs.where(F.col("doc_id") % 2 != 0),
        docs.where(F.col("doc_id") % 2 == 0),
        "text", "doc_id", n=3, threshold=0.5,
    )


@register(
    "q96_stream_interval_join",
    """
    SELECT e1.user_id, e1.event_id AS view_id, e2.event_id AS purchase_id,
           epoch_us(e2.ts) - epoch_us(e1.ts) AS lag_us
    FROM events e1 JOIN events e2
      ON e2.user_id = e1.user_id
     AND e1.event_type = 'view' AND e2.event_type = 'purchase'
     AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    """,
)
def q96_stream_interval_join(spark, sf_dir):
    """Streaming attribution join: every purchase matched to the same
    user's views in the preceding hour, as a STREAM-STREAM event-time
    interval join (streaming.interval_self_join) — the stateful-join
    tier of Structured Streaming, where each side's buffer is bounded
    by watermark + lag instead of growing forever. Backfilled via
    availableNow; the inner join makes streaming output equal the
    batch join exactly, which is what the oracle computes."""
    from queens_spark.streaming.events import (
        interval_self_join,
        read_events_stream,
        run_available_now,
    )

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    out = run_available_now(
        interval_self_join(ev), "q96_mem", output_mode="append"
    )
    return out.select(
        "user_id",
        F.col("l_id").alias("view_id"),
        F.col("r_id").alias("purchase_id"),
        (F.unix_micros("r_time") - F.unix_micros("l_time")).alias("lag_us"),
    )


def _pq_oracle() -> str:
    from queens_spark.operators.similarity import duckdb_pq_codes_cte

    return (
        "WITH "
        + duckdb_pq_codes_cte("embeddings", "embedding", "vec_id", 16)
        + "\n    SELECT vid AS vec_id, pq_code FROM pq"
    )


@register("q97_pq_codes", _pq_oracle())
def q97_pq_codes(spark, sf_dir):
    """Product-quantization encoding of the embedding corpus: 8
    subspaces × 16 centroids → one packed 32-bit code per vector
    (4 B where fp32 takes 256 B — the compression tier that makes a
    100 TB ANN index RAM-resident). Codebooks are the first 16
    vectors' subvectors (bounded driver collect, the q33 seed
    convention). The encode is ONE zero-shuffle codegen projection;
    every arithmetic step is exact bigint, so the oracle reproduces
    each packed code bit-for-bit (operators/similarity.py:pq_encode)."""
    from queens_spark.operators.similarity import pq_encode

    emb = load(spark, sf_dir, "embeddings")
    seeds = [
        r["embedding"]
        for r in emb.where(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    return pq_encode(emb, "embedding", "vec_id", seeds)


def _pq_adc_oracle(query_id: int, k: int) -> str:
    from queens_spark.operators.similarity import duckdb_pq_codes_cte

    dsub = 8
    return (
        "WITH "
        + duckdb_pq_codes_cte("embeddings", "embedding", "vec_id", 16)
        + f""",
    pqlut AS (
      SELECT s.s, sd.cid,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, {dsub} + 1),
            i -> (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i])
               * (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i]))),
          (acc, x) -> acc + x) AS d
      FROM (SELECT q FROM pqv WHERE vid = {query_id}) qv,
           range(0, 8) s(s), pqseeds sd
    )
    SELECT c.vid AS vec_id, CAST(sum(l.d) AS BIGINT) AS adist
    FROM pqcodes c JOIN pqlut l ON l.s = c.s AND l.cid = c.cid
    GROUP BY c.vid
    ORDER BY adist ASC, vec_id ASC
    LIMIT {k}"""
    )


@register("q98_pq_adc_search", _pq_adc_oracle(42, 10))
def q98_pq_adc_search(spark, sf_dir):
    """Asymmetric-distance PQ search: top-10 nearest codes to vector
    42's embedding. The query never meets a raw vector — its distance
    to all 128 codebook centroids is a driver-side integer lookup
    table (exact, bit-identical to the SQL twin), and scoring a code
    is 8 shift-mask-lookups + adds, fully codegen. orderBy+limit
    compiles to TakeOrderedAndProject, so the codes frame never
    shuffles — the scan-bound first stage of a two-stage (ADC →
    exact re-rank) retrieval (operators/similarity.py:pq_adc_topk)."""
    from queens_spark.operators.similarity import (
        pq_adc_lut,
        pq_adc_topk,
        pq_encode,
    )

    emb = load(spark, sf_dir, "embeddings")
    rows = {
        r["vec_id"]: r["embedding"]
        for r in emb.where(F.col("vec_id") <= 42)
        .select("vec_id", "embedding")
        .collect()
    }
    seeds = [rows[i] for i in range(16)]
    lut = pq_adc_lut(rows[42], seeds)
    codes = pq_encode(emb, "embedding", "vec_id", seeds)
    return pq_adc_topk(codes, "vec_id", lut, k=10)


def _sampled_q_oracle() -> str:
    from queens_spark.operators.sketches import duckdb_sampled_quantiles

    return duckdb_sampled_quantiles(
        "events", "event_type", "value", "event_id", 1250,
        {"p50": 0.50, "p90": 0.90, "p99": 0.99},
    )


@register("q99_sampled_quantiles", _sampled_q_oracle())
def q99_sampled_quantiles(spark, sf_dir):
    """Mergeable quantile sketch: p50/p90/p99 of event value per type,
    estimated from a deterministic 12.5% hash sample (rate 1250 bp on
    event_id). The sample filter is map-side; the two-phase-rank
    finish touches only sample-sized data; and the sketch STATE (the
    sampled rows) merges across shards by plain union — the per-key
    filter commutes with union, so per-day samples re-finish into
    exactly this result (tested in tests/test_sketches.py)
    (operators/sketches.py:sampled_quantiles)."""
    from queens_spark.operators.sketches import sampled_quantiles

    ev = load(spark, sf_dir, "events")
    return sampled_quantiles(
        ev, "event_type", "value", "event_id", 1250,
        {"p50": 0.50, "p90": 0.90, "p99": 0.99},
    )


@register(
    "q100_stream_novelty",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint FROM fp f
    WHERE doc_id >= 200
      AND NOT EXISTS (
        SELECT 1 FROM fp h WHERE h.doc_id < 250
          AND h.fingerprint = f.fingerprint
      )
    """,
)
def q100_stream_novelty(spark, sf_dir):
    """Streaming ingest-time dedup: documents arriving on the stream
    (doc_id ≥ 200 — deliberately overlapping the history window so the
    gate has real work) pass only if their content fingerprint is
    absent from the static historical corpus (doc_id < 250): the 50
    overlap docs are exact re-ingests and MUST be dropped. A
    stream-static LEFT ANTI join in append mode, stateless by
    construction (history lives on the static side, not in streaming
    state). Backfilled via availableNow; the batch NOT-EXISTS twin is
    exactly equivalent (streaming/events.py:novelty_filter)."""
    from queens_spark.streaming.events import (
        novelty_filter,
        read_documents_stream,
        run_available_now,
    )

    docs = load(spark, sf_dir, "documents")
    stream = read_documents_stream(spark, f"{sf_dir}/documents.parquet")
    out = novelty_filter(
        stream.where(F.col("doc_id") >= 200),
        docs.where(F.col("doc_id") < 250),
    )
    return run_available_now(out, "q100_mem", output_mode="append").select(
        "doc_id", "fingerprint"
    )


def _pagerank_oracle() -> str:
    from queens_spark.operators.graph import duckdb_pagerank_ctes

    edges = """
      SELECT src, dst, n AS w FROM (
        SELECT src, dst, count(*) AS n FROM (
          SELECT event_type AS src,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst
          FROM events
        ) WHERE dst IS NOT NULL
        GROUP BY src, dst
      )
    """
    return (
        "WITH "
        + duckdb_pagerank_ctes(edges, iters=10)
        + "\n    SELECT node AS event_type, rank AS rank_ppb FROM pr"
    )


@register("q101_transition_pagerank", _pagerank_oracle())
def q101_transition_pagerank(spark, sf_dir):
    """PageRank over the user-journey transition graph (q92's edges):
    which event types act as behavioral hubs, weighted by observed
    transition counts. 10 iterations of EXACT integer-arithmetic rank
    propagation (parts-per-billion, truncating division at two fixed
    points) — integer sums commute, so the result is bit-identical at
    any parallelism and the DuckDB twin (10 unrolled CTEs) reproduces
    it exactly; a floating-point PageRank is summation-order-dependent
    and cannot be oracle-graded (operators/graph.py). Per iteration:
    one src join + one dst-keyed counter-width aggregation over the
    persisted edge frame; node/edge frames here are event-type
    dimension tables, but the loop is the genuine distributed shape."""
    from queens_spark.operators.graph import integer_pagerank

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return integer_pagerank(edges, "src", "dst", "w", iters=10).select(
        F.col("node").alias("event_type"), F.col("rank").alias("rank_ppb")
    )


def _ivf_recall_oracle(k: int, n_probe: int, n_queries: int) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    def cos(vq, vn2, qq, qn2):
        return (
            f"CAST({duckdb_int_dot(vq, qq)} AS DOUBLE)"
            f" / (sqrt(CAST({vn2} AS DOUBLE)) * sqrt(CAST({qn2} AS DOUBLE)))"
        )

    qv = duckdb_quantize("embedding")
    return f"""
    WITH n AS (
      SELECT vec_id, q AS vq, {duckdb_int_dot('q', 'q')} AS n2
      FROM (SELECT vec_id, {qv} AS q FROM embeddings)
    ), qs AS (
      SELECT vec_id AS qid, vq AS qq, n2 AS qn2 FROM n WHERE vec_id < {n_queries}
    ), cents AS (
      SELECT vec_id AS centroid_id, vq AS cq, n2 AS cn2 FROM n WHERE vec_id % 200 = 0
    ), exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, v.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {cos('v.vq', 'v.n2', 'q.qq', 'q.qn2')} DESC,
                          v.vec_id ASC) AS rk
        FROM n v, qs q
      ) WHERE rk <= {k}
    ), assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {cos('v.vq', 'v.n2', 'c.cq', 'c.cn2')} DESC,
                          c.centroid_id ASC) AS rk
        FROM n v, cents c
      ) WHERE rk = 1
    ), probe AS (
      SELECT qid, centroid_id FROM (
        SELECT q.qid, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {cos('c.cq', 'c.cn2', 'q.qq', 'q.qn2')} DESC,
                          c.centroid_id ASC) AS rk
        FROM cents c, qs q
      ) WHERE rk <= {n_probe}
    ), cand AS (
      SELECT p.qid, a.vec_id
      FROM assigned a JOIN probe p ON p.centroid_id = a.centroid_id
    ), ivf AS (
      SELECT qid, vec_id FROM (
        SELECT c.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY c.qid
                 ORDER BY {cos('v.vq', 'v.n2', 'q.qq', 'q.qn2')} DESC,
                          c.vec_id ASC) AS rk
        FROM cand c
        JOIN n v ON v.vec_id = c.vec_id
        JOIN qs q ON q.qid = c.qid
      ) WHERE rk <= {k}
    )
    SELECT q.qid AS query_id,
           CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           CAST((coalesce(h.hits, 0) * 100) // {k} AS BIGINT) AS recall_pct
    FROM qs q LEFT JOIN (
      SELECT e.qid, count(*) AS hits
      FROM exact e JOIN ivf i ON i.qid = e.qid AND i.vec_id = e.vec_id
      GROUP BY e.qid
    ) h ON h.qid = q.qid
    """


@register("q102_ivf_recall", _ivf_recall_oracle(10, 2, 10))
def q102_ivf_recall(spark, sf_dir):
    """ANN quality evaluation harness: recall@10 of the IVF index
    (q33's centroids, n_probe=2) against exact brute-force cosine for
    a 10-query probe set — the measurement a production pipeline runs
    before trusting an approximate index, expressed as ONE plan (no
    per-query branches: the probe block broadcasts; the EXACT side
    scores through batch_topk_cosine's per-partition pools so the
    corpus never shuffles and only ~k·|queries| candidates per
    partition reach a rank window; the IVF side restricts to probed
    cells first). hits and recall_pct are exact integers, so the twin
    matches bit-for-bit."""
    from queens_spark.operators.similarity import (
        batch_topk_cosine,
        cosine_from_ints,
        int_dot,
        int_norm2,
        quantize,
    )

    k, n_probe, n_queries = 10, 2, 10
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", quantize("embedding").alias("vq")
    ).withColumn("n2", int_norm2(F.col("vq")))
    qs = v.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("vq").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    cents = v.where(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("vq").alias("cq"),
        F.col("n2").alias("cn2"),
    )

    def cos(vq, vn2, qq, qn2):
        return cosine_from_ints(
            int_dot(F.col(vq), F.col(qq)), F.col(vn2), F.col(qn2)
        )

    w_q = Window.partitionBy("qid")
    # exact side: per-partition pools (batch_topk_cosine), NOT
    # crossJoin + Window.partitionBy(qid) — that shape pushes
    # |queries|×|corpus| scored rows through ≤|queries| tasks; the
    # pools leave only ~k·|queries| candidates per partition, and the
    # quantized-cosine arithmetic is bit-identical to the twin's
    exact = batch_topk_cosine(
        emb.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"), "embedding"
        ),
        emb.select("vec_id", "embedding"),
        vec_col="embedding",
        id_col="vec_id",
        query_id_col="qid",
        k=k,
    ).select(F.col("query_id").alias("qid"), "vec_id")
    assigned = (
        v.crossJoin(F.broadcast(cents))
        .withColumn("__c", cos("vq", "n2", "cq", "cn2"))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("__c"), F.asc("centroid_id")
                )
            ),
        )
        .where(F.col("__rk") == 1)
        .select("vec_id", "centroid_id")
    )
    probe = (
        cents.crossJoin(F.broadcast(qs))
        .withColumn("__c", cos("cq", "cn2", "qq", "qn2"))
        .withColumn(
            "__rk",
            F.row_number().over(
                w_q.orderBy(F.desc("__c"), F.asc("centroid_id"))
            ),
        )
        .where(F.col("__rk") <= n_probe)
        .select("qid", "centroid_id")
    )
    ivf = (
        assigned.join(F.broadcast(probe), "centroid_id")
        .join(v, "vec_id")
        .join(F.broadcast(qs), "qid")
        .withColumn("__c", cos("vq", "n2", "qq", "qn2"))
        .withColumn(
            "__rk",
            F.row_number().over(
                w_q.orderBy(F.desc("__c"), F.asc("vec_id"))
            ),
        )
        .where(F.col("__rk") <= k)
        .select("qid", "vec_id")
    )
    hits = (
        exact.join(ivf, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("__h"))
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce("__h", F.lit(0)).cast("bigint").alias("hits"),
            F.expr("coalesce(__h, 0) * 100 div 10").cast("bigint").alias(
                "recall_pct"
            ),
        )
    )


def _pq_rerank_oracle(query_id: int, shortlist: int, k: int) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_pq_codes_cte

    dsub = 8
    return (
        "WITH "
        + duckdb_pq_codes_cte("embeddings", "embedding", "vec_id", 16)
        + f""",
    pqlut AS (
      SELECT s.s, sd.cid,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, {dsub} + 1),
            i -> (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i])
               * (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i]))),
          (acc, x) -> acc + x) AS d
      FROM (SELECT q FROM pqv WHERE vid = {query_id}) qv,
           range(0, 8) s(s), pqseeds sd
    ),
    shortlist AS (
      SELECT c.vid FROM pqcodes c JOIN pqlut l ON l.s = c.s AND l.cid = c.cid
      GROUP BY c.vid
      ORDER BY CAST(sum(l.d) AS BIGINT) ASC, c.vid ASC
      LIMIT {shortlist}
    ),
    nrm AS (
      SELECT vid, q, {duckdb_int_dot('q', 'q')} AS n2 FROM pqv
    )
    SELECT v.vid AS vec_id,
           CAST({duckdb_int_dot('v.q', 'qn.q')} AS DOUBLE)
             / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE))) AS cosine
    FROM nrm v
    JOIN shortlist s ON s.vid = v.vid
    CROSS JOIN (SELECT q, n2 FROM nrm WHERE vid = {query_id}) qn
    ORDER BY cosine DESC, vec_id ASC LIMIT {k}"""
    )


@register("q103_pq_rerank_search", _pq_rerank_oracle(42, 50, 10))
def q103_pq_rerank_search(spark, sf_dir):
    """The production two-stage retrieval composed end-to-end, served
    from the STORED vector index (store/vector_index.py): PQ/ADC
    scans the persisted 4-byte codes for a 50-candidate shortlist
    (stage 1 — the only pass that touches every row, reading 64× less
    than raw fp32), then exact integer-cosine re-ranks ONLY those 50
    raw vectors (stage 2 — a candidate-sized lookup join).
    TakeOrdered on both stages; the corpus never shuffles, and after
    the first build NO encode stage exists in the plan — the index is
    a warehouse artifact refreshed on ingest, not a per-query
    recompute. Stored codes are bit-identical to pq_encode on the
    same seeds, so the oracle is unchanged."""
    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 42).select("embedding").collect()[
        0
    ]["embedding"]
    idx = _embeddings_index(spark, sf_dir)
    return idx.two_stage_search(
        emb, "embedding", [float(x) for x in qvec], shortlist=50, k=10
    )


def _line_dedup_oracle() -> str:
    from queens_spark.operators.dedup import duckdb_strip_common_lines

    return duckdb_strip_common_lines("documents", "text", "doc_id", min_df=3)


@register("q104_line_boilerplate", _line_dedup_oracle())
def q104_line_boilerplate(spark, sf_dir):
    """CCNet-style line-level boilerplate removal: lines whose trimmed
    content recurs in ≥ 3 distinct documents (banners, footers,
    licence blurbs) are deleted; whitespace-only lines survive as
    document structure. One counter-width line-df aggregation, then
    the clean itself is a ZERO-SHUFFLE projection — the common set
    re-enters as a capped array literal, so cleaning composes into
    the same stage as any downstream screen
    (operators/dedup.py:strip_common_lines)."""
    from queens_spark.operators.dedup import strip_common_lines

    docs = load(spark, sf_dir, "documents")
    return strip_common_lines(docs, "text", "doc_id", min_df=3)


def _pq_refined_oracle() -> str:
    from queens_spark.operators.similarity import duckdb_pq_codes_cte

    return (
        "WITH "
        + duckdb_pq_codes_cte("embeddings", "embedding", "vec_id", 16)
        + """,
    pvals AS (
      SELECT vid, CAST((i - 1) // 8 AS BIGINT) AS s, i - 1 AS dim, q[i] AS val
      FROM pqv, range(1, 65) t(i)
    ),
    psums AS (
      SELECT v.s, c.cid, v.dim,
             CAST(sum(v.val) // count(*) AS BIGINT) AS el
      FROM pvals v JOIN pqcodes c ON c.vid = v.vid AND c.s = v.s
      GROUP BY v.s, c.cid, v.dim
    ),
    pseed AS (
      SELECT CAST((i - 1) // 8 AS BIGINT) AS s, cid, i - 1 AS dim, q[i] AS el
      FROM pqseeds, range(1, 65) t(i)
    ),
    prefined AS (
      SELECT sd.s, sd.cid, sd.dim, coalesce(ps.el, sd.el) AS el
      FROM pseed sd LEFT JOIN psums ps
        ON ps.s = sd.s AND ps.cid = sd.cid AND ps.dim = sd.dim
    ),
    rdists AS (
      SELECT v.vid, r.s, r.cid,
             sum((v.val - r.el) * (v.val - r.el)) AS d
      FROM pvals v JOIN prefined r ON r.s = v.s AND r.dim = v.dim
      GROUP BY v.vid, r.s, r.cid
    ),
    rcodes AS (
      SELECT vid, s, cid FROM (
        SELECT vid, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vid, s ORDER BY d, cid) AS rk
        FROM rdists
      ) WHERE rk = 1
    )
    SELECT vid AS vec_id, CAST(sum(cid << (4 * s)) AS BIGINT) AS pq_code
    FROM rcodes GROUP BY vid"""
    )


@register("q105_pq_refined_codes", _pq_refined_oracle())
def q105_pq_refined_codes(spark, sf_dir):
    """PQ with TRAINED codebooks: one Lloyd iteration per subspace
    (assign to seed centroids, recompute each cell as the element-wise
    integer mean, empty cells keep their seed), then re-encode — the
    quantizer-training step between q97's raw seeds and a production
    index. The update shuffle carries m·ksub·dsub partial-sum
    counters (map-side combined), never vectors; the refined codebook
    is a driver-scale artifact fed back as one literal. Integer means
    (sum div count, truncation toward zero on BOTH engines — probed)
    keep every centroid element exact, so the twin reproduces each
    refined code bit-for-bit
    (operators/similarity.py:pq_refine_codebooks)."""
    from queens_spark.operators.similarity import (
        pq_encode_int,
        pq_refine_codebooks,
    )

    emb = load(spark, sf_dir, "embeddings")
    seeds = [
        r["embedding"]
        for r in emb.where(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    refined = pq_refine_codebooks(emb, "embedding", "vec_id", seeds)
    return pq_encode_int(emb, "embedding", "vec_id", refined)


def _zorder3_oracle(bucket_shift: int) -> str:
    from queens_spark.store.zorder import duckdb_zorder_key_n

    z = duckdb_zorder_key_n(["l_partkey", "l_suppkey", "l_orderkey"])
    return f"""
    WITH z AS (SELECT {z} AS zkey FROM lineitem)
    SELECT zkey >> {bucket_shift} AS z_bucket,
           COUNT(*) AS n_rows,
           MIN(zkey) AS z_min, MAX(zkey) AS z_max
    FROM z GROUP BY z_bucket
    """


@register("q106_zorder3_key", _zorder3_oracle(45))
def q106_zorder3_key(spark, sf_dir):
    """THREE-column Z-order key over (l_partkey, l_suppkey,
    l_orderkey), summarized per top-bits bucket — the n-column
    generalization of q94 (store/zorder.py:zorder_key_n): per-column
    bit budget 63//3 = 21, bit i of column j at position 3i+j, so
    per-file bounding boxes stay tight on all THREE dimensions and a
    selective 3-D predicate prunes files on any of them. Pure bit
    arithmetic, identical in both engines."""
    from queens_spark.store.zorder import zorder_key_n

    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(
            zorder_key_n(
                ["l_partkey", "l_suppkey", "l_orderkey"]
            ).alias("zkey")
        )
        .groupBy(F.shiftright("zkey", 45).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zkey").alias("z_min"),
            F.max("zkey").alias("z_max"),
        )
    )


def _batch_knn_oracle(n_queries: int, k: int) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    cos = (
        f"CAST({duckdb_int_dot('v.q', 'q.qq')} AS DOUBLE)"
        f" / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(q.qn2 AS DOUBLE)))"
    )
    return f"""
    WITH n AS (
      SELECT vec_id, q, {duckdb_int_dot('q', 'q')} AS n2
      FROM (SELECT vec_id, {qv} AS q FROM embeddings)
    ), qs AS (
      SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id < {n_queries}
    )
    SELECT qid AS query_id, vec_id, cosine FROM (
      SELECT q.qid, v.vec_id, {cos} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY {cos} DESC, v.vec_id ASC) AS rk
      FROM n v, qs q
    ) WHERE rk <= {k}
    """


@register("q107_batch_exact_knn", _batch_knn_oracle(5, 5))
def q107_batch_exact_knn(spark, sf_dir):
    """Batch EXACT kNN: top-5 by quantized cosine for a 5-query block
    in ONE plan — the offline evaluation / hard-negative-mining shape
    (similarity.batch_topk_cosine): the query block broadcasts, the
    corpus streams through one Arrow-batched pass keeping per-query
    ≥kth-score pools (ties never dropped), and only ~k·|queries|
    candidates per partition reach the exact-order rank window. The
    corpus never shuffles (plan-gated in tests/test_plans.py); the
    naive form — crossJoin + |queries|-task window — is the
    scale-killer this operator exists to avoid. Same floor(x·1000)
    bigint codes and IEEE cosine as the twin: bit-identical."""
    from queens_spark.operators.similarity import batch_topk_cosine

    emb = load(spark, sf_dir, "embeddings")
    return batch_topk_cosine(
        emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        emb,
        vec_col="embedding",
        id_col="vec_id",
        query_id_col="query_id",
        k=5,
    )



# Trained-cells CTE chain shared by every stored-index oracle (q108/
# q109/q116/q117): one integer Lloyd round over the vid % 200 seed
# cells, bit-identical to the index build's coarse_iters=1 training
# (proven standalone by q120's two-round twin). Spliced into each
# oracle's f-string where the naive cents block used to sit, so the
# downstream probe/assignment SQL is unchanged.
def _trained_cents() -> str:
    from queens_spark.operators.similarity import duckdb_trained_cents_ctes

    return duckdb_trained_cents_ctes(1, 64, src="nrm")


_TRAINED_CENTS = _trained_cents()


def _ivfpq_oracle(query_id: int, n_probe: int, k: int) -> str:
    from queens_spark.operators.similarity import (
        duckdb_int_dot,
        duckdb_pq_codes_cte,
    )

    dsub = 8
    cosc = (
        f"CAST({duckdb_int_dot('cq', 'qq')} AS DOUBLE)"
        f" / (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))"
    )
    cosa = (
        f"CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)"
        f" / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))"
    )
    return (
        "WITH "
        + duckdb_pq_codes_cte("embeddings", "embedding", "vec_id", 16)
        + f""",
    pqlut AS (
      SELECT s.s, sd.cid,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, {dsub} + 1),
            i -> (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i])
               * (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i]))),
          (acc, x) -> acc + x) AS d
      FROM (SELECT q FROM pqv WHERE vid = {query_id}) qv,
           range(0, 8) s(s), pqseeds sd
    ),
    nrm AS (
      SELECT vid, q, {duckdb_int_dot('q', 'q')} AS n2 FROM pqv
    ),
    {_TRAINED_CENTS},
    qn AS (SELECT q AS qq, n2 AS qn2 FROM nrm WHERE vid = {query_id}),
    probe AS (
      SELECT centroid_id FROM cents, qn
      ORDER BY {cosc} DESC, centroid_id ASC
      LIMIT {n_probe}
    ),
    scored AS (
      SELECT v.vid, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY v.vid
               ORDER BY {cosa} DESC, c.centroid_id ASC) AS rk
      FROM nrm v, cents c
    ),
    assigned AS (SELECT vid, centroid_id FROM scored WHERE rk = 1)
    SELECT c.vid AS vec_id, CAST(sum(l.d) AS BIGINT) AS adist
    FROM pqcodes c
    JOIN pqlut l ON l.s = c.s AND l.cid = c.cid
    JOIN assigned a ON a.vid = c.vid
    WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
    GROUP BY c.vid
    ORDER BY adist ASC, vec_id ASC LIMIT {k}"""
    )


@register("q108_ivfpq_search", _ivfpq_oracle(42, 2, 10))
def q108_ivfpq_search(spark, sf_dir):
    """FAISS-style IVF-PQ search served from the STORED index
    (store/vector_index.py): the assignment artifact co-locates each
    vector's packed PQ code inside its cell's disk partition, so the
    whole search is ONE partition-pruned scan — read only the
    n_probe=2 probed cells' directories (PartitionFilters), ADC-score
    their 4-byte codes against the manifest-codebook LUT, TakeOrdered
    10. No joins, no shuffles, no encode stage; the fraction of the
    corpus read is n_probe/n_cells of 4 B/vector, the layout that
    keeps a 100 TB corpus searchable from parquet alone. Coarse
    quantizer: seed cells at vec_id % 200 == 0 TRAINED with one
    integer Lloyd round (build coarse_iters=1 — q120 proves the
    training arithmetic against its own twin); probe and assignment
    both exact quantized cosine with (cosine DESC, cell ASC)
    tie-break — bit-identical to the twin's unrolled chain."""
    emb = load(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 42)
        .select("embedding")
        .collect()[0]["embedding"]
    ]
    cent_ids = [
        r[0]
        for r in emb.where(F.col("vec_id") % 200 == 0)
        .select("vec_id")
        .collect()
    ]
    idx = _embeddings_index(spark, sf_dir, centroid_ids=cent_ids)
    return idx.ivfpq_topk(qvec, n_probe=2, k=10)


def _filtered_ivfpq_oracle(
    query_id: int, n_probe: int, k: int, label: int
) -> str:
    from queens_spark.operators.similarity import (
        duckdb_int_dot,
        duckdb_pq_codes_cte,
    )

    dsub = 8
    cosc = (
        f"CAST({duckdb_int_dot('cq', 'qq')} AS DOUBLE)"
        f" / (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))"
    )
    cosa = (
        f"CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)"
        f" / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))"
    )
    return (
        "WITH "
        + duckdb_pq_codes_cte("embeddings", "embedding", "vec_id", 16)
        + f""",
    pqlut AS (
      SELECT s.s, sd.cid,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, {dsub} + 1),
            i -> (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i])
               * (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i]))),
          (acc, x) -> acc + x) AS d
      FROM (SELECT q FROM pqv WHERE vid = {query_id}) qv,
           range(0, 8) s(s), pqseeds sd
    ),
    nrm AS (
      SELECT vid, q, {duckdb_int_dot('q', 'q')} AS n2 FROM pqv
    ),
    {_TRAINED_CENTS},
    qn AS (SELECT q AS qq, n2 AS qn2 FROM nrm WHERE vid = {query_id}),
    probe AS (
      SELECT centroid_id FROM cents, qn
      ORDER BY {cosc} DESC, centroid_id ASC
      LIMIT {n_probe}
    ),
    scored AS (
      SELECT v.vid, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY v.vid
               ORDER BY {cosa} DESC, c.centroid_id ASC) AS rk
      FROM nrm v, cents c
    ),
    assigned AS (SELECT vid, centroid_id FROM scored WHERE rk = 1)
    SELECT c.vid AS vec_id, CAST(sum(l.d) AS BIGINT) AS adist
    FROM pqcodes c
    JOIN pqlut l ON l.s = c.s AND l.cid = c.cid
    JOIN assigned a ON a.vid = c.vid
    JOIN embeddings e ON e.vec_id = c.vid
    WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
      AND e.label = {label}
    GROUP BY c.vid
    ORDER BY adist ASC, vec_id ASC LIMIT {k}"""
    )


@register("q109_filtered_ann_search", _filtered_ivfpq_oracle(42, 2, 10, 3))
def q109_filtered_ann_search(spark, sf_dir):
    """FILTERED vector search from the stored index: q108's IVF-PQ
    probe with a metadata predicate (label = 3) PUSHED INTO the index
    scan — the build co-located the label column with the packed
    codes in each cell's disk partition (meta_cols), so the filter is
    a parquet pushdown on the same one pruned scan, not a join and
    not a post-filter of an unfiltered top-k (which silently starves
    k when the filter is selective). This pre-filtering shape is what
    production vector stores do for metadata-constrained retrieval;
    at 100 TB it reads n_probe/n_cells of 4 B/vector and row-group
    skips the rest."""
    emb = load(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 42)
        .select("embedding")
        .collect()[0]["embedding"]
    ]
    cent_ids = [
        r[0]
        for r in emb.where(F.col("vec_id") % 200 == 0)
        .select("vec_id")
        .collect()
    ]
    idx = _embeddings_index(spark, sf_dir, centroid_ids=cent_ids)
    return idx.ivfpq_topk(
        qvec, n_probe=2, k=10, predicate=F.col("label") == 3
    )


def _bm25_oracle(terms: list[str], k: int) -> str:
    from queens_spark.operators.corpus import BM25_SCALE

    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
    WITH tf AS (
      SELECT doc_id AS doc, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), dl AS (
      SELECT doc, sum(tf) AS dl FROM tf GROUP BY doc
    ), nt AS (
      SELECT count(*) AS n, sum(dl) AS t FROM dl
    ), qtf AS (
      SELECT * FROM tf WHERE token IN ({tl})
    ), dfc AS (
      SELECT token, count(*) AS df_docs FROM qtf GROUP BY token
    )
    SELECT q.doc AS doc,
           CAST(sum(
             ({BM25_SCALE} * (2*nt.n - 2*dfc.df_docs + 1) * 44 * q.tf * nt.t)
             // ((2*dfc.df_docs + 1)
                 * (20*q.tf*nt.t + 6*nt.t + 18*dl.dl*nt.n))
           ) AS BIGINT) AS bm25_e5,
           count(*) AS n_terms
    FROM qtf q
    JOIN dfc ON dfc.token = q.token
    JOIN dl ON dl.doc = q.doc, nt
    GROUP BY q.doc
    ORDER BY bm25_e5 DESC, q.doc ASC LIMIT {k}"""


@register("q110_bm25_retrieval", _bm25_oracle(["dup", "spark", "merge"], 10))
def q110_bm25_retrieval(spark, sf_dir):
    """Okapi BM25 top-10 for the query {dup, spark, merge} — the
    keyword side of hybrid retrieval (q77 fused ranks; this is the
    principled lexical scorer underneath). Exact integer BM25 with
    k1=6/5, b=3/4 and RATIONAL idf (2N-2df+1)/(2df+1) — unlogged
    because ln() is not bit-portable, monotone in df so the rare term
    ('dup', df≈5%) dominates the common ones. Served from the STORED
    postings index (store/text_index.py — bit-identical to the inline
    operators/corpus.py:bm25_topk, so this oracle is unchanged): the
    plan is one bucket-pruned postings scan (PartitionFilters on the
    query terms' crc32 buckets), a counter-width df aggregation over
    query-term rows only, TakeOrdered — no tokenize stage, no corpus
    stats pass, documents.parquet untouched (plan-gated,
    tests/test_plans.py)."""
    return _documents_text_index(spark, sf_dir).bm25_topk(
        ["dup", "spark", "merge"], k=10
    )


def _hybrid_bm25_ann_oracle(query_id: int, pool: int, k: int, rrf_k: int) -> str:
    from queens_spark.operators.corpus import BM25_SCALE
    from queens_spark.operators.similarity import duckdb_pq_codes_cte

    dsub = 8
    return (
        "WITH "
        + duckdb_pq_codes_cte("embeddings", "embedding", "vec_id", 16)
        + f""",
    pqlut AS (
      SELECT s.s, sd.cid,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, {dsub} + 1),
            i -> (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i])
               * (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i]))),
          (acc, x) -> acc + x) AS d
      FROM (SELECT q FROM pqv WHERE vid = {query_id}) qv,
           range(0, 8) s(s), pqseeds sd
    ),
    adc AS (
      SELECT c.vid AS doc_id, CAST(sum(l.d) AS BIGINT) AS adist
      FROM pqcodes c JOIN pqlut l ON l.s = c.s AND l.cid = c.cid
      WHERE c.vid <> {query_id}
      GROUP BY c.vid
    ),
    adr AS (
      SELECT doc_id, CAST(row_number() OVER (
        ORDER BY adist ASC, doc_id) AS BIGINT) AS adc_rank
      FROM (SELECT * FROM adc ORDER BY adist ASC, doc_id LIMIT {pool})
    ),
    tf AS (
      SELECT doc_id AS doc, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    dl AS (SELECT doc, sum(tf) AS dl FROM tf GROUP BY doc),
    nt AS (SELECT count(*) AS n, sum(dl) AS t FROM dl),
    qterms AS (SELECT DISTINCT token FROM tf WHERE doc = {query_id}),
    qtf AS (SELECT * FROM tf WHERE token IN (SELECT token FROM qterms)),
    dfc AS (SELECT token, count(*) AS df_docs FROM qtf GROUP BY token),
    bm AS (
      SELECT q.doc AS doc_id,
             CAST(sum(
               ({BM25_SCALE} * (2*nt.n - 2*dfc.df_docs + 1) * 44 * q.tf * nt.t)
               // ((2*dfc.df_docs + 1)
                   * (20*q.tf*nt.t + 6*nt.t + 18*dl.dl*nt.n))
             ) AS BIGINT) AS bm25_e5
      FROM qtf q
      JOIN dfc ON dfc.token = q.token
      JOIN dl ON dl.doc = q.doc, nt
      WHERE q.doc <> {query_id}
      GROUP BY q.doc
    ),
    bmr AS (
      SELECT doc_id, CAST(row_number() OVER (
        ORDER BY bm25_e5 DESC, doc_id) AS BIGINT) AS bm25_rank
      FROM (SELECT * FROM bm ORDER BY bm25_e5 DESC, doc_id LIMIT {pool})
    )
    SELECT coalesce(bmr.doc_id, adr.doc_id) AS doc_id,
           coalesce(1000000000000 // ({rrf_k} + bm25_rank), 0)
             + coalesce(1000000000000 // ({rrf_k} + adc_rank), 0) AS rrf_e12,
           bm25_rank, adc_rank
    FROM bmr FULL OUTER JOIN adr ON bmr.doc_id = adr.doc_id
    ORDER BY rrf_e12 DESC, doc_id LIMIT {k}"""
    )


@register(
    "q111_hybrid_bm25_ann", _hybrid_bm25_ann_oracle(42, 50, 10, 60)
)
def q111_hybrid_bm25_ann(spark, sf_dir):
    """The production hybrid-retrieval stack end-to-end: an exact
    integer BM25 pool served from the STORED postings index (q110's
    scorer over store/text_index.py artifacts, query = doc 42's
    distinct tokens) and a STORED-INDEX ADC pool (q103's stage 1 —
    4-byte codes, no encode stage) fused with scaled-integer
    reciprocal-rank fusion (q77's Σ ⌊1e12/(60+rank)⌋ — exact and
    summation-order-free). The query document is excluded from both
    pools. Both pools are TakeOrdered heads; ranks are windows over
    ≤50-row pools; the fusion join touches ≤ 2·pool rows — and BOTH
    retrieval sides now read stored artifacts only: the corpus is
    touched for one pushdown-filtered row (the query doc's text),
    never tokenized or encoded in the plan."""
    from queens_spark.operators.text import tokens as _tok

    pool, k, rrf_k, qid = 50, 10, 60, 42
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    terms = sorted(
        {
            t
            for t in docs.where(F.col("doc_id") == qid)
            .select(F.explode(_tok("text")).alias("t"))
            .distinct()
            .toPandas()["t"]
        }
    )
    bm = (
        _documents_text_index(spark, sf_dir)
        .bm25_topk(terms, k=pool + 1)
        .where(F.col("doc") != qid)
        .select(F.col("doc").alias("doc_id"), "bm25_e5")
    )
    w = Window.orderBy(F.desc("bm25_e5"), F.asc("doc_id"))
    bmr = (
        bm.withColumn("bm25_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("bm25_rank") <= pool)
        .select("doc_id", "bm25_rank")
    )
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == qid)
        .select("embedding")
        .collect()[0]["embedding"]
    ]
    idx = _embeddings_index(spark, sf_dir)
    ad = (
        idx.adc_topk(qvec, k=pool + 1)
        .where(F.col("vec_id") != qid)
        .select(F.col("vec_id").alias("doc_id"), "adist")
    )
    w2 = Window.orderBy(F.asc("adist"), F.asc("doc_id"))
    adr = (
        ad.withColumn("adc_rank", F.row_number().over(w2).cast("bigint"))
        .where(F.col("adc_rank") <= pool)
        .select("doc_id", "adc_rank")
    )
    fused = bmr.join(adr, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(
                F.expr(f"1000000000000 div ({rrf_k} + bm25_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000000000 div ({rrf_k} + adc_rank)"), F.lit(0)
            )
        ).alias("rrf_e12"),
        "bm25_rank",
        "adc_rank",
    )
    return fused.orderBy(F.desc("rrf_e12"), F.asc("doc_id")).limit(k)


def _batch_adc_oracle(n_queries: int, k: int) -> str:
    from queens_spark.operators.similarity import duckdb_pq_codes_cte

    dsub = 8
    return (
        "WITH "
        + duckdb_pq_codes_cte("embeddings", "embedding", "vec_id", 16)
        + f""",
    pqlut AS (
      SELECT qv.vid AS qid, s.s, sd.cid,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, {dsub} + 1),
            i -> (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i])
               * (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i]))),
          (acc, x) -> acc + x) AS d
      FROM (SELECT vid, q FROM pqv WHERE vid < {n_queries}) qv,
           range(0, 8) s(s), pqseeds sd
    ),
    adc AS (
      SELECT l.qid, c.vid, CAST(sum(l.d) AS BIGINT) AS adist
      FROM pqcodes c JOIN pqlut l ON l.s = c.s AND l.cid = c.cid
      GROUP BY l.qid, c.vid
    )
    SELECT qid AS query_id, vid AS vec_id, adist FROM (
      SELECT qid, vid, adist,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY adist ASC, vid ASC) AS rk
      FROM adc
    ) WHERE rk <= {k}"""
    )


@register("q112_batch_adc_search", _batch_adc_oracle(5, 5))
def q112_batch_adc_search(spark, sf_dir):
    """Batch ADC retrieval from the STORED index: a 5-query block
    scored in ONE Arrow-batched pass over the persisted 4-byte codes
    (per-query LUTs from the manifest codebook broadcast; vectorized
    nibble decode + LUT gather; per-partition pools keep rows
    tied-or-better than the k-th). No encode stage, the codes never
    shuffle, and only ~k·|queries| candidates per partition reach the
    one query-keyed exchange — the per-query-plan alternative scans
    the codes |queries| times (store/vector_index.py:batch_adc_topk).
    Distances are exact int64 LUT sums: bit-identical to the twin."""
    emb = load(spark, sf_dir, "embeddings")
    idx = _embeddings_index(spark, sf_dir)
    return idx.batch_adc_topk(
        emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=5,
    )


@register(
    "q113_resample_gap_fill",
    """
    WITH per AS (
      SELECT event_type, date_trunc('day', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT))
                  AS BIGINT) AS s
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ), span AS (
      SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
      FROM per GROUP BY event_type
    ), grid AS (
      SELECT event_type,
             unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS bucket
      FROM span
    ), j AS (
      SELECT g.event_type, g.bucket,
             coalesce(p.n, 0) AS n_events,
             coalesce(p.s, 0) AS sum_cents,
             p.s AS raw
      FROM grid g LEFT JOIN per p
        ON p.event_type = g.event_type AND p.bucket = g.bucket
    )
    SELECT event_type, bucket, n_events, sum_cents,
           last_value(raw IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS carry_cents
    FROM j
    """,
)
def q113_resample_gap_fill(spark, sf_dir):
    """Dense daily resample per event type with gap-fill: one row per
    (type, day) across each type's observed span — zero-filled count
    and exact-cents sum, plus the last observed daily sum carried
    forward (ffill). The regularization step before lag/rolling
    feature pipelines, where a missing bucket IS data. One (key,
    bucket) aggregation shuffle; the dense grid generates distributed
    via per-key sequence+explode; the carry window is bounded by span
    length (operators/timeseries.py:resample_gap_fill)."""
    from queens_spark.operators.timeseries import resample_gap_fill

    return resample_gap_fill(
        load(spark, sf_dir, "events"), "event_type", "ts", "value",
        unit="day",
    )


@register(
    "q114_rolling_features",
    """
    WITH per AS (
      SELECT event_type, date_trunc('day', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT))
                  AS BIGINT) AS s
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ), span AS (
      SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
      FROM per GROUP BY event_type
    ), grid AS (
      SELECT event_type,
             unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS bucket
      FROM span
    ), dense AS (
      SELECT g.event_type, g.bucket,
             coalesce(p.s, 0) AS sum_cents
      FROM grid g LEFT JOIN per p
        ON p.event_type = g.event_type AND p.bucket = g.bucket
    )
    SELECT event_type, bucket, sum_cents,
           CAST(sum(sum_cents) OVER w7 AS BIGINT) AS roll7_cents,
           CAST(sum(sum_cents) OVER w7
                // count(*) OVER w7 AS BIGINT) AS roll7_avg_cents,
           lag(sum_cents, 1) OVER (
             PARTITION BY event_type ORDER BY bucket) AS lag1_cents
    FROM dense
    WINDOW w7 AS (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q114_rolling_features(spark, sf_dir):
    """Rolling features over the DENSE grid (q113's resample is the
    prerequisite — on raw sparse buckets a '7-row' window silently
    spans a different number of DAYS per key): 7-day rolling sum,
    integer rolling mean (sum div count — exact where a float mean is
    not), and lag-1, per event type. ONE window partition pass
    computes all three (same partition+order ⇒ one sort, no extra
    shuffle); window state is 7 rows. The first 6 buckets use the
    short window (ROWS BETWEEN clips identically in both engines);
    lag1 is NULL on each key's first bucket."""
    from queens_spark.operators.timeseries import resample_gap_fill

    dense = resample_gap_fill(
        load(spark, sf_dir, "events"), "event_type", "ts", "value",
        unit="day",
    ).select("event_type", "bucket", "sum_cents")
    w = Window.partitionBy("event_type").orderBy("bucket")
    w7 = w.rowsBetween(-6, Window.currentRow)
    return (
        dense.select(
            "event_type",
            "bucket",
            "sum_cents",
            F.sum("sum_cents").over(w7).cast("bigint").alias("roll7_cents"),
            F.count(F.lit(1)).over(w7).alias("__n7"),
            F.lag("sum_cents", 1).over(w).alias("lag1_cents"),
        )
        # integer division AFTER the window: sum div count stays in
        # int64 end-to-end (sum/count through a double drops exactness
        # past 2^53 at real scale)
        .withColumn("roll7_avg_cents", F.expr("roll7_cents div __n7"))
        .select(
            "event_type", "bucket", "sum_cents", "roll7_cents",
            "roll7_avg_cents", "lag1_cents",
        )
    )


@register(
    "q115_anomaly_days",
    """
    WITH per AS (
      SELECT event_type, date_trunc('day', ts) AS bucket,
             CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT))
                  AS BIGINT) AS s
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ), span AS (
      SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
      FROM per GROUP BY event_type
    ), grid AS (
      SELECT event_type,
             unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS bucket
      FROM span
    ), dense AS (
      SELECT g.event_type, g.bucket, coalesce(p.s, 0) AS sum_cents
      FROM grid g LEFT JOIN per p
        ON p.event_type = g.event_type AND p.bucket = g.bucket
    ), st AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sum_cents) AS BIGINT) AS sx,
             CAST(sum(sum_cents * sum_cents) AS BIGINT) AS sxx
      FROM dense GROUP BY event_type
    )
    SELECT d.event_type, d.bucket, d.sum_cents,
           CAST(st.n * d.sum_cents - st.sx AS BIGINT) AS dev_n,
           CAST((st.n * d.sum_cents - st.sx)
                * (st.n * d.sum_cents - st.sx) AS BIGINT) AS dev_n2,
           CAST(4 * (st.n * st.sxx - st.sx * st.sx) AS BIGINT) AS thr2,
           (st.n * d.sum_cents - st.sx) * (st.n * d.sum_cents - st.sx)
             > 4 * (st.n * st.sxx - st.sx * st.sx) AS is_anomaly
    FROM dense d JOIN st ON st.event_type = d.event_type
    """,
)
def q115_anomaly_days(spark, sf_dir):
    """Exact-integer anomaly screen over the dense daily grid: flag
    buckets more than 2 population standard deviations from their
    key's mean WITHOUT ever computing a float — z² > c² rearranged
    over integers as (n·x − Σx)² > c²·(n·Σx² − (Σx)²), so the flag is
    bit-portable where sqrt/stddev are not. Zero-filled gap days are
    part of the population (a silent outage IS the anomaly). One
    counter-width stats aggregation per key joined back to the grid
    (AQE broadcasts it); no window, no sort."""
    from queens_spark.operators.timeseries import resample_gap_fill

    dense = resample_gap_fill(
        load(spark, sf_dir, "events"), "event_type", "ts", "value",
        unit="day",
    ).select("event_type", "bucket", "sum_cents")
    st = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("sum_cents").alias("__sx"),
        F.sum(F.expr("sum_cents * sum_cents")).alias("__sxx"),
    )
    return (
        dense.join(st, "event_type")
        .withColumn("dev_n", F.expr("__n * sum_cents - __sx"))
        .withColumn("dev_n2", F.expr("dev_n * dev_n"))
        .withColumn("thr2", F.expr("4 * (__n * __sxx - __sx * __sx)"))
        .select(
            "event_type", "bucket", "sum_cents",
            F.col("dev_n").cast("bigint").alias("dev_n"),
            F.col("dev_n2").cast("bigint").alias("dev_n2"),
            F.col("thr2").cast("bigint").alias("thr2"),
            (F.col("dev_n2") > F.col("thr2")).alias("is_anomaly"),
        )
    )


def _ivfpq_recall_oracle(k: int, n_probe: int, n_queries: int) -> str:
    from queens_spark.operators.similarity import (
        duckdb_int_dot,
        duckdb_pq_codes_cte,
    )

    dsub = 8

    def cos(vq, vn2, qq, qn2):
        return (
            f"CAST({duckdb_int_dot(vq, qq)} AS DOUBLE)"
            f" / (sqrt(CAST({vn2} AS DOUBLE)) * sqrt(CAST({qn2} AS DOUBLE)))"
        )

    return (
        "WITH "
        + duckdb_pq_codes_cte("embeddings", "embedding", "vec_id", 16)
        + f""",
    nrm AS (
      SELECT vid, q, {duckdb_int_dot('q', 'q')} AS n2 FROM pqv
    ),
    qs AS (
      SELECT vid AS qid, q AS qq, n2 AS qn2 FROM nrm WHERE vid < {n_queries}
    ),
    {_TRAINED_CENTS},
    exact AS (
      SELECT qid, vid FROM (
        SELECT q.qid, v.vid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {cos('v.q', 'v.n2', 'q.qq', 'q.qn2')} DESC,
                          v.vid ASC) AS rk
        FROM nrm v, qs q
      ) WHERE rk <= {k}
    ),
    pqlut AS (
      SELECT qv.qid, s.s, sd.cid,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, {dsub} + 1),
            i -> (qv.qq[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i])
               * (qv.qq[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i]))),
          (acc, x) -> acc + x) AS d
      FROM qs qv, range(0, 8) s(s), pqseeds sd
    ),
    assigned AS (
      SELECT vid, centroid_id FROM (
        SELECT v.vid, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vid
                 ORDER BY {cos('v.q', 'v.n2', 'c.cq', 'c.cn2')} DESC,
                          c.centroid_id ASC) AS rk
        FROM nrm v, cents c
      ) WHERE rk = 1
    ),
    probe AS (
      SELECT qid, centroid_id FROM (
        SELECT q.qid, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {cos('c.cq', 'c.cn2', 'q.qq', 'q.qn2')} DESC,
                          c.centroid_id ASC) AS rk
        FROM cents c, qs q
      ) WHERE rk <= {n_probe}
    ),
    adc AS (
      SELECT l.qid, c.vid, CAST(sum(l.d) AS BIGINT) AS adist
      FROM pqcodes c
      JOIN pqlut l ON l.s = c.s AND l.cid = c.cid
      JOIN assigned a ON a.vid = c.vid
      JOIN probe p ON p.qid = l.qid AND p.centroid_id = a.centroid_id
      GROUP BY l.qid, c.vid
    ),
    ivfpq AS (
      SELECT qid, vid FROM (
        SELECT qid, vid,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY adist ASC, vid ASC) AS rk
        FROM adc
      ) WHERE rk <= {k}
    )
    SELECT q.qid AS query_id,
           CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           CAST((coalesce(h.hits, 0) * 100) // {k} AS BIGINT) AS recall_pct
    FROM qs q LEFT JOIN (
      SELECT e.qid, count(*) AS hits
      FROM exact e JOIN ivfpq i ON i.qid = e.qid AND i.vid = e.vid
      GROUP BY e.qid
    ) h ON h.qid = q.qid"""
    )


@register("q116_ivfpq_recall", _ivfpq_recall_oracle(10, 2, 10))
def q116_ivfpq_recall(spark, sf_dir):
    """Recall@10 of the STORED IVF-PQ path (q108's one-pruned-scan
    search) against exact quantized cosine, for a 10-query block —
    the eval that tells you what the deployed index's n_probe and
    codebook actually cost in quality, run the way production would:
    every approximate search reads only the stored cell-partitioned
    codes, the exact baseline scores through batch_topk_cosine's
    per-partition pools (corpus never shuffles), and the ten
    approximate branches union into one job. Integer hits /
    recall_pct, bit-identical to the twin."""
    from queens_spark.operators.similarity import batch_topk_cosine

    k, n_probe, n_queries = 10, 2, 10
    emb = load(spark, sf_dir, "embeddings")
    cent_ids = [
        r[0]
        for r in emb.where(F.col("vec_id") % 200 == 0)
        .select("vec_id")
        .collect()
    ]
    idx = _embeddings_index(spark, sf_dir, centroid_ids=cent_ids)
    qrows = (
        emb.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    exact = batch_topk_cosine(
        emb.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"), "embedding"
        ),
        emb.select("vec_id", "embedding"),
        vec_col="embedding",
        id_col="vec_id",
        query_id_col="qid",
        k=k,
    ).select(F.col("query_id").alias("qid"), "vec_id")
    branches = [
        idx.ivfpq_topk(
            [float(x) for x in r["embedding"]], n_probe=n_probe, k=k
        ).select(
            F.lit(int(r["vec_id"])).cast("bigint").alias("qid"), "vec_id"
        )
        for r in qrows
    ]
    approx = branches[0]
    for b in branches[1:]:
        approx = approx.unionAll(b)
    hits = (
        exact.join(approx, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("__h"))
    )
    qids = spark.range(n_queries).select(F.col("id").alias("qid"))
    return (
        qids.join(hits, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce("__h", F.lit(0)).cast("bigint").alias("hits"),
            F.expr(f"coalesce(__h, 0) * 100 div {k}")
            .cast("bigint")
            .alias("recall_pct"),
        )
    )


def _ivfpq_two_stage_oracle(
    query_id: int, n_probe: int, shortlist: int, k: int
) -> str:
    from queens_spark.operators.similarity import (
        duckdb_int_dot,
        duckdb_pq_codes_cte,
    )

    dsub = 8
    cosc = (
        f"CAST({duckdb_int_dot('cq', 'qq')} AS DOUBLE)"
        f" / (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))"
    )
    cosa = (
        f"CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)"
        f" / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))"
    )
    return (
        "WITH "
        + duckdb_pq_codes_cte("embeddings", "embedding", "vec_id", 16)
        + f""",
    pqlut AS (
      SELECT s.s, sd.cid,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, {dsub} + 1),
            i -> (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i])
               * (qv.q[s.s * {dsub} + i] - sd.q[s.s * {dsub} + i]))),
          (acc, x) -> acc + x) AS d
      FROM (SELECT q FROM pqv WHERE vid = {query_id}) qv,
           range(0, 8) s(s), pqseeds sd
    ),
    nrm AS (
      SELECT vid, q, {duckdb_int_dot('q', 'q')} AS n2 FROM pqv
    ),
    {_TRAINED_CENTS},
    qn AS (SELECT q AS qq, n2 AS qn2 FROM nrm WHERE vid = {query_id}),
    probe AS (
      SELECT centroid_id FROM cents, qn
      ORDER BY {cosc} DESC, centroid_id ASC
      LIMIT {n_probe}
    ),
    scored AS (
      SELECT v.vid, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY v.vid
               ORDER BY {cosa} DESC, c.centroid_id ASC) AS rk
      FROM nrm v, cents c
    ),
    assigned AS (SELECT vid, centroid_id FROM scored WHERE rk = 1),
    short AS (
      SELECT c.vid FROM pqcodes c
      JOIN pqlut l ON l.s = c.s AND l.cid = c.cid
      JOIN assigned a ON a.vid = c.vid
      WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
      GROUP BY c.vid
      ORDER BY CAST(sum(l.d) AS BIGINT) ASC, c.vid ASC
      LIMIT {shortlist}
    )
    SELECT v.vid AS vec_id,
           CAST({duckdb_int_dot('v.q', 'qn.qq')} AS DOUBLE)
             / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE)))
             AS cosine
    FROM nrm v
    JOIN short s ON s.vid = v.vid, qn
    ORDER BY cosine DESC, vec_id ASC LIMIT {k}"""
    )


@register(
    "q117_ivfpq_two_stage", _ivfpq_two_stage_oracle(42, 2, 50, 10)
)
def q117_ivfpq_two_stage(spark, sf_dir):
    """The complete FAISS-style retrieval pipeline from the STORED
    index: cell-pruned ADC shortlist (q108's one-partition-pruned
    scan of 4-byte codes over n_probe=2 cells) feeding an exact
    integer-cosine re-rank of ONLY the 50 shortlisted raw vectors
    (broadcast-join lookup). At 100 TB the corpus contributes
    n_probe/n_cells of its codes to stage 1 and 50 rows to stage 2 —
    the end-state every production ANN deployment converges on
    (store/vector_index.py:ivfpq_two_stage)."""
    emb = load(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 42)
        .select("embedding")
        .collect()[0]["embedding"]
    ]
    cent_ids = [
        r[0]
        for r in emb.where(F.col("vec_id") % 200 == 0)
        .select("vec_id")
        .collect()
    ]
    idx = _embeddings_index(spark, sf_dir, centroid_ids=cent_ids)
    return idx.ivfpq_two_stage(
        emb, "embedding", qvec, n_probe=2, shortlist=50, k=10
    )


def _ppr_oracle(seeds: list[str]) -> str:
    from queens_spark.operators.graph import duckdb_pagerank_ctes

    edges = """
      SELECT src, dst, n AS w FROM (
        SELECT src, dst, count(*) AS n FROM (
          SELECT event_type AS src,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst
          FROM events
        ) WHERE dst IS NOT NULL
        GROUP BY src, dst
      )
    """
    return (
        "WITH "
        + duckdb_pagerank_ctes(edges, iters=10, seed_nodes=seeds)
        + "\n    SELECT node AS event_type, rank AS rank_ppb FROM pr"
    )


@register("q118_personalized_pagerank", _ppr_oracle(["click"]))
def q118_personalized_pagerank(spark, sf_dir):
    """PERSONALIZED PageRank over the q101 transition graph, teleport
    seeded at {click}: importance relative to the seed — "which event
    types does behavior starting from a click flow into" — the
    graph-based recommendation / seed-expanded curation primitive
    (random-walk-with-restart). Same exact integer arithmetic and
    10-CTE unrolled twin as q101; the only deltas are the start
    distribution and the teleport mass landing solely on the seed set
    (split by truncating division). A seed absent from the graph
    raises instead of silently teleporting nowhere
    (operators/graph.py:integer_pagerank)."""
    from queens_spark.operators.graph import integer_pagerank

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return integer_pagerank(
        edges, "src", "dst", "w", iters=10, seed_nodes=["click"]
    ).select(
        F.col("node").alias("event_type"), F.col("rank").alias("rank_ppb")
    )


def _minhash_agreement_oracle(threshold: float) -> str:
    from queens_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_A,
        MINHASH_B,
        MINHASH_K,
        MINHASH_P,
        duckdb_shingle_hashes,
    )

    need = int(-(-MINHASH_K * threshold // 1))
    sig_elems = ", ".join(
        f"list_min(list_transform(hs, x -> ({MINHASH_A[i]} * x + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(MINHASH_K)
    )
    band_selects = []
    for band in range(LSH_BANDS):
        cols = " || '_' || ".join(
            f"CAST(sig[{band * LSH_ROWS + r + 1}] AS VARCHAR)"
            for r in range(LSH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {band} AS band_id, {cols} AS band_sig FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
    WITH h AS (
      SELECT doc_id, hs FROM (
        SELECT doc_id, {duckdb_shingle_hashes('text')} AS hs FROM documents)
      WHERE len(hs) > 0
    ), sig AS (
      SELECT doc_id, [{sig_elems}] AS sig FROM h
    ), bands AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_filter(range(1, {MINHASH_K} + 1),
                                i -> sa.sig[i] = sb.sig[i]))
                AS BIGINT) AS matches
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE len(list_filter(range(1, {MINHASH_K} + 1),
                          i -> sa.sig[i] = sb.sig[i])) >= {need}
    """


@register("q119_minhash_agreement", _minhash_agreement_oracle(0.875))
def q119_minhash_agreement(spark, sf_dir):
    """MinHash near-dup pairs confirmed by LANE AGREEMENT (≥ ⌈16·7/8⌉
    = 14 of 16 lanes equal) — the signature-only estimator the
    persistent dedup ledger's fuzzy mode screens with, where the
    original shingle sets no longer exist and agreement IS the
    verification. One integer comparison per candidate (bit-portable
    where a float Jaccard ratio is not); banded candidates, a
    |candidates|-wide verify join carrying two 16-int arrays, nothing
    O(n²) (operators/dedup.py:minhash_agreement_pairs)."""
    from queens_spark.operators.dedup import minhash_agreement_pairs

    return minhash_agreement_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id",
        threshold=0.875,
    )


def _trained_cells_oracle(iters: int) -> str:
    from queens_spark.operators.similarity import (
        duckdb_int_dot,
        duckdb_quantize,
        duckdb_trained_cents_ctes,
    )

    qv = duckdb_quantize("embedding")
    cos = (
        f"CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)"
        f" / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))"
    )
    return f"""
    WITH nrm AS (
      SELECT vid, q, {duckdb_int_dot('q', 'q')} AS n2
      FROM (SELECT vec_id AS vid, {qv} AS q FROM embeddings)
    ),
    {duckdb_trained_cents_ctes(iters, 64, src="nrm")},
    fasg AS (
      SELECT vid, centroid_id FROM (
        SELECT v.vid, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vid
                 ORDER BY {cos} DESC, c.centroid_id ASC) AS rk
        FROM nrm v, cents c
      ) WHERE rk = 1
    )
    SELECT c.centroid_id, count(*) AS n_vectors, c.cn2 AS cn2
    FROM fasg a JOIN cents c ON c.centroid_id = a.centroid_id
    GROUP BY c.centroid_id, c.cn2
    ORDER BY c.centroid_id"""


@register("q120_trained_ivf_cells", _trained_cells_oracle(2))
def q120_trained_ivf_cells(spark, sf_dir):
    """TRAINED IVF coarse quantizer: two integer Lloyd rounds over the
    corpus (assign by exact quantized cosine, lowest-id ties; update
    = element-wise `sum div count` integer mean, empty cells keep
    their centroid — similarity.py:train_coarse_centroids), then the
    final assignment's cell sizes + each trained centroid's integer
    norm. Seed cells are vec_id % 200 == 0; training moves them to
    where the data actually is, which is what fixes probe-time skew
    at 100 TB (a hot cell turns n_probe/n_cells of the scan into half
    the corpus — cell_stats() audits it, this operator FIXES it).
    Every trained element is bit-portable (the q105 Lloyd convention),
    so the twin reproduces cn2 and every cell count exactly. Scale:
    each round is ONE Arrow-batched corpus pass shuffling
    n_cells*dim counters; the assignment is a broadcast argmax; the
    cell-size aggregation is counter-width."""
    from queens_spark.operators.similarity import (
        ivf_assign,
        train_coarse_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    # Lazy seed pick (vec_id % 200 == 0): collecting the id list first
    # costs a corpus scan at plan build and an isin() literal that
    # grows with n (the q33/q57 coarse-centroids convention).
    trained = train_coarse_centroids(
        emb, "embedding", "vec_id", iters=2,
        centroids_pred=F.col("vec_id") % 200 == 0,
    )
    cents_df = spark.createDataFrame(
        [(cid, cq, sum(x * x for x in cq)) for cid, cq in trained],
        "centroid_id bigint, cq array<bigint>, cn2 bigint",
    )
    return (
        ivf_assign(emb, "embedding", "vec_id", centroids_df=cents_df)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .join(cents_df.select("centroid_id", "cn2"), "centroid_id")
        .select("centroid_id", "n_vectors", "cn2")
    )


def _batch_bm25_oracle(n_queries: int, k: int) -> str:
    from queens_spark.operators.corpus import BM25_SCALE

    num = (
        f"({BM25_SCALE} * (2*nt.n - 2*dfc.df_docs + 1) * 44 * t.tf * nt.t)"
    )
    den = (
        "((2*dfc.df_docs + 1) * (20*t.tf*nt.t + 6*nt.t + 18*dl.dl*nt.n))"
    )
    return f"""
    WITH tf AS (
      SELECT doc_id AS doc, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), dl AS (SELECT doc, sum(tf) AS dl FROM tf GROUP BY doc),
    nt AS (SELECT count(*) AS n, sum(dl) AS t FROM dl),
    qt AS (SELECT DISTINCT doc AS query_id, token FROM tf
           WHERE doc < {n_queries}),
    dfc AS (SELECT token, count(*) AS df_docs FROM tf
            WHERE token IN (SELECT DISTINCT token FROM qt)
            GROUP BY token),
    scored AS (
      SELECT q.query_id, t.doc,
             CAST(sum({num} // {den}) AS BIGINT) AS bm25_e5,
             count(*) AS n_terms
      FROM qt q
      JOIN tf t ON t.token = q.token
      JOIN dfc ON dfc.token = t.token
      JOIN dl ON dl.doc = t.doc, nt
      GROUP BY q.query_id, t.doc
    )
    SELECT query_id, doc, bm25_e5, n_terms FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY bm25_e5 DESC, doc ASC) AS rk
      FROM scored
    ) WHERE rk <= {k}"""


@register("q121_batch_bm25", _batch_bm25_oracle(5, 5))
def q121_batch_bm25(spark, sf_dir):
    """TABLE-driven BM25 retrieval from the stored postings index —
    the lexical twin of q112's batch ADC: five query documents' token
    sets score against the whole corpus in ONE bucket-pruned postings
    scan (store/text_index.py:batch_bm25_topk). The global per-token
    df aggregation runs once and broadcasts; the (query_id, token)
    pairs broadcast; only matching postings rows shuffle (bounded by
    query-term hits, never the corpus); a per-query window ranks ≤
    |hits| rows. Same exact integer arithmetic as q110 per query —
    one scan instead of five."""
    from queens_spark.operators.text import tokens as _tok

    qdf = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 5)
        .select(
            F.col("doc_id").alias("query_id"),
            _tok("text").alias("terms"),
        )
    )
    return _documents_text_index(spark, sf_dir).batch_bm25_topk(
        qdf, k=5
    )


def _filtered_bm25_oracle(terms: list[str], source: str, k: int) -> str:
    from queens_spark.operators.corpus import BM25_SCALE

    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
    WITH tf AS (
      SELECT doc_id AS doc, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), dl AS (
      SELECT doc, sum(tf) AS dl FROM tf GROUP BY doc
    ), nt AS (
      SELECT count(*) AS n, sum(dl) AS t FROM dl
    ), qtf AS (
      SELECT * FROM tf WHERE token IN ({tl})
    ), dfc AS (
      SELECT token, count(*) AS df_docs FROM qtf GROUP BY token
    )
    SELECT q.doc AS doc,
           CAST(sum(
             ({BM25_SCALE} * (2*nt.n - 2*dfc.df_docs + 1) * 44 * q.tf * nt.t)
             // ((2*dfc.df_docs + 1)
                 * (20*q.tf*nt.t + 6*nt.t + 18*dl.dl*nt.n))
           ) AS BIGINT) AS bm25_e5,
           count(*) AS n_terms
    FROM qtf q
    JOIN dfc ON dfc.token = q.token
    JOIN dl ON dl.doc = q.doc
    JOIN documents d ON d.doc_id = q.doc, nt
    WHERE d.source = '{source}'
    GROUP BY q.doc
    ORDER BY bm25_e5 DESC, q.doc ASC LIMIT {k}"""


@register(
    "q122_filtered_bm25",
    _filtered_bm25_oracle(["dup", "spark", "merge"], "src7", 10),
)
def q122_filtered_bm25(spark, sf_dir):
    """FILTERED lexical search — q109's restrict-then-rank shape on
    the BM25 side: candidates limited to source='src7' documents via
    a predicate on the metadata columns DENORMALIZED onto the stored
    postings (no documents join anywhere in the plan — the filter
    lands on the same bucket-pruned scan), while scores stay the
    documents' global BM25 (corpus-wide df/N/T: the filter narrows
    the pool, it does not redefine the score). k never starves the
    way post-filtering a global top-k would
    (store/text_index.py:bm25_topk predicate=...)."""
    return _documents_text_index(spark, sf_dir).bm25_topk(
        ["dup", "spark", "merge"], k=10, predicate="source = 'src7'"
    )


def _phrase_oracle(terms: list[str], k: int) -> str:
    def q(t: str) -> str:
        return "'" + t.replace("'", "''") + "'"

    distinct = sorted(set(terms))
    cte_of = {t: f"ph{i}" for i, t in enumerate(distinct)}
    ctes = ",\n    ".join(
        f"{cte_of[t]} AS (SELECT doc, list(pos ORDER BY pos) AS pos "
        f"FROM tok WHERE token = {q(t)} GROUP BY doc)"
        for t in distinct
    )
    joins = " ".join(
        f"JOIN {cte_of[t]} ON {cte_of[t]}.doc = {cte_of[terms[0]]}.doc"
        for t in distinct
        if t != terms[0]
    )
    conds = " AND ".join(
        f"list_contains({cte_of[t]}.pos, p + {i})"
        for i, t in enumerate(terms[1:], start=1)
    ) or "TRUE"
    return f"""
    WITH tok AS (
      SELECT doc, s.p - 1 AS pos, s.t AS token FROM (
        SELECT doc_id AS doc,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(p := i, t := toks[i]))) AS s
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents))
    ),
    {ctes}
    SELECT doc, n_occurrences FROM (
      SELECT {cte_of[terms[0]]}.doc AS doc,
             CAST(len(list_filter({cte_of[terms[0]]}.pos,
                  p -> {conds})) AS BIGINT) AS n_occurrences
      FROM {cte_of[terms[0]]} {joins}
    ) WHERE n_occurrences > 0
    ORDER BY n_occurrences DESC, doc ASC LIMIT {k}"""


@register("q123_phrase_search", _phrase_oracle(["table", "hash"], 10))
def q123_phrase_search(spark, sf_dir):
    """EXACT phrase search from the stored POSITIONAL postings — the
    retrieval primitive Spark has no native operator for, served with
    no tokenize stage: the phrase's terms drive the same bucket-pruned
    scan as BM25, a per-candidate token→positions map assembles in one
    aggregation, and the occurrence count ("term i at start+i for
    every i") is a pure JVM higher-order fold — integers end to end,
    so the twin reproduces every count (store/text_index.py:
    phrase_topk). At 100 TB the scan reads |distinct phrase
    terms|/n_buckets of the postings and only docs containing ALL
    terms reach the fold."""
    return _documents_text_index(spark, sf_dir).phrase_topk(
        ["table", "hash"], k=10
    )


def _conjunctive_bm25_oracle(terms: list[str], k: int) -> str:
    from queens_spark.operators.corpus import BM25_SCALE

    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
    WITH tf AS (
      SELECT doc_id AS doc, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), dl AS (
      SELECT doc, sum(tf) AS dl FROM tf GROUP BY doc
    ), nt AS (
      SELECT count(*) AS n, sum(dl) AS t FROM dl
    ), qtf AS (
      SELECT * FROM tf WHERE token IN ({tl})
    ), dfc AS (
      SELECT token, count(*) AS df_docs FROM qtf GROUP BY token
    )
    SELECT q.doc AS doc,
           CAST(sum(
             ({BM25_SCALE} * (2*nt.n - 2*dfc.df_docs + 1) * 44 * q.tf * nt.t)
             // ((2*dfc.df_docs + 1)
                 * (20*q.tf*nt.t + 6*nt.t + 18*dl.dl*nt.n))
           ) AS BIGINT) AS bm25_e5,
           count(*) AS n_terms
    FROM qtf q
    JOIN dfc ON dfc.token = q.token
    JOIN dl ON dl.doc = q.doc, nt
    GROUP BY q.doc
    HAVING count(*) = {len(set(terms))}
    ORDER BY bm25_e5 DESC, q.doc ASC LIMIT {k}"""


@register(
    "q124_conjunctive_bm25",
    _conjunctive_bm25_oracle(["dup", "spark", "merge"], 10),
)
def q124_conjunctive_bm25(spark, sf_dir):
    """Conjunctive (AND) BM25 — web-search default semantics: only
    documents matching EVERY query term rank. Same stored-postings
    plan as q110 with a post-aggregation matched-term-count filter,
    so scores are unchanged and no extra pass runs; rarer on purpose
    than the disjunctive top-10 (the intersection is small), which is
    exactly why AND semantics matter for precision
    (store/text_index.py:bm25_topk require_all=True)."""
    return _documents_text_index(spark, sf_dir).bm25_topk(
        ["dup", "spark", "merge"], k=10, require_all=True
    )


def _proximity_oracle(terms: list[str], window: int, k: int) -> str:
    def q(t: str) -> str:
        return "'" + t.replace("'", "''") + "'"

    distinct = sorted(set(terms))
    cte_of = {t: f"px{i}" for i, t in enumerate(distinct)}
    ctes = ",\n    ".join(
        f"{cte_of[t]} AS (SELECT doc, list(pos ORDER BY pos) AS pos "
        f"FROM tok WHERE token = {q(t)} GROUP BY doc)"
        for t in distinct
    )
    first = cte_of[terms[0]]
    joins = " ".join(
        f"JOIN {cte_of[t]} ON {cte_of[t]}.doc = {first}.doc"
        for t in distinct
        if t != terms[0]
    )
    conds = " AND ".join(
        f"len(list_filter({cte_of[t]}.pos, "
        f"q -> abs(q - p) <= {int(window)})) > 0"
        for t in distinct
        if t != terms[0]
    ) or "TRUE"
    return f"""
    WITH tok AS (
      SELECT doc, s.p - 1 AS pos, s.t AS token FROM (
        SELECT doc_id AS doc,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(p := i, t := toks[i]))) AS s
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents))
    ),
    {ctes}
    SELECT doc, n_windows FROM (
      SELECT {first}.doc AS doc,
             CAST(len(list_filter({first}.pos,
                  p -> {conds})) AS BIGINT) AS n_windows
      FROM {first} {joins}
    ) WHERE n_windows > 0
    ORDER BY n_windows DESC, doc ASC LIMIT {k}"""


@register(
    "q125_proximity_search", _proximity_oracle(["table", "join"], 4, 10)
)
def q125_proximity_search(spark, sf_dir):
    """Unordered proximity search — all terms within a ±4-token
    neighborhood, ranked by co-occurrence window count: the relevance
    middle ground between bag-of-words BM25 (q110, no position
    signal) and exact phrase adjacency (q123). Served from the stored
    positional postings with the q123 plan family (bucket-pruned
    scan, all-terms-present filter, token→positions map, JVM
    exists-within-window fold); integer counts, twin-reproducible
    (store/text_index.py:proximity_topk)."""
    return _documents_text_index(spark, sf_dir).proximity_topk(
        ["table", "join"], window=4, k=10
    )


def _more_like_this_oracle(query_id: int, n_terms: int, k: int) -> str:
    from queens_spark.operators.corpus import BM25_SCALE

    return f"""
    WITH tf AS (
      SELECT doc_id AS doc, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), dl AS (
      SELECT doc, sum(tf) AS dl FROM tf GROUP BY doc
    ), nt AS (
      SELECT count(*) AS n, sum(dl) AS t FROM dl
    ), qterms AS (
      SELECT DISTINCT token FROM tf WHERE doc = {query_id}
    ), qdf AS (
      SELECT token, count(*) AS df_all FROM tf
      WHERE token IN (SELECT token FROM qterms) GROUP BY token
    ), sel AS (
      SELECT token FROM qdf ORDER BY df_all ASC, token ASC
      LIMIT {n_terms}
    ), qtf AS (
      SELECT * FROM tf WHERE token IN (SELECT token FROM sel)
    ), dfc AS (
      SELECT token, count(*) AS df_docs FROM qtf GROUP BY token
    ), scored AS (
      SELECT q.doc AS doc,
             CAST(sum(
               ({BM25_SCALE} * (2*nt.n - 2*dfc.df_docs + 1) * 44 * q.tf * nt.t)
               // ((2*dfc.df_docs + 1)
                   * (20*q.tf*nt.t + 6*nt.t + 18*dl.dl*nt.n))
             ) AS BIGINT) AS bm25_e5,
             count(*) AS n_terms
      FROM qtf q
      JOIN dfc ON dfc.token = q.token
      JOIN dl ON dl.doc = q.doc, nt
      WHERE q.doc <> {query_id}
      GROUP BY q.doc
    )
    SELECT doc, bm25_e5, n_terms FROM scored
    ORDER BY bm25_e5 DESC, doc ASC LIMIT {k}"""


@register("q126_more_like_this", _more_like_this_oracle(42, 5, 10))
def q126_more_like_this(spark, sf_dir):
    """More-like-this retrieval, fully index-served: doc 42's FIVE
    RAREST terms (document frequency from a bucket-pruned postings
    scan — a document's rare terms identify it; df ASC, token ASC
    ties, deterministic) become the BM25 query, the query doc
    excluded from the pool. The corpus is touched for one
    pushdown-filtered row (the query doc's text); the term selection
    and the search both read stored postings only — the
    find-similar-documents primitive of curation and dedup triage
    (store/text_index.py:rarest_terms + bm25_topk)."""
    from queens_spark.operators.text import tokens as _tok

    qid, n_terms, k = 42, 5, 10
    idx = _documents_text_index(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    all_terms = [
        r["t"]
        for r in docs.where(F.col("doc_id") == qid)
        .select(F.explode(_tok("text")).alias("t"))
        .distinct()
        .collect()
    ]
    sel = idx.rarest_terms(all_terms, n_terms)
    return (
        idx.bm25_topk(sel, k=k + 1)
        .where(F.col("doc") != qid)
        .orderBy(F.desc("bm25_e5"), F.asc("doc"))
        .limit(k)
    )


def _batch_mlt_oracle(n_queries: int, n_terms: int, k: int) -> str:
    from queens_spark.operators.corpus import BM25_SCALE

    return f"""
    WITH tf AS (
      SELECT doc_id AS doc, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), dl AS (
      SELECT doc, sum(tf) AS dl FROM tf GROUP BY doc
    ), nt AS (
      SELECT count(*) AS n, sum(dl) AS t FROM dl
    ), qterms AS (
      SELECT DISTINCT doc AS query_id, token FROM tf
      WHERE doc < {n_queries}
    ), qdf AS (
      SELECT token, count(*) AS df_all FROM tf
      WHERE token IN (SELECT DISTINCT token FROM qterms)
      GROUP BY token
    ), sel AS (
      SELECT query_id, token FROM (
        SELECT q.query_id, q.token,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY d.df_all ASC, q.token ASC) AS rk
        FROM qterms q JOIN qdf d ON d.token = q.token
      ) WHERE rk <= {n_terms}
    ), qtf AS (
      SELECT * FROM tf
      WHERE token IN (SELECT DISTINCT token FROM sel)
    ), dfc AS (
      SELECT token, count(*) AS df_docs FROM qtf GROUP BY token
    ), scored AS (
      SELECT s.query_id, t.doc,
             CAST(sum(
               ({BM25_SCALE} * (2*nt.n - 2*dfc.df_docs + 1) * 44 * t.tf * nt.t)
               // ((2*dfc.df_docs + 1)
                   * (20*t.tf*nt.t + 6*nt.t + 18*dl.dl*nt.n))
             ) AS BIGINT) AS bm25_e5,
             count(*) AS n_terms
      FROM sel s
      JOIN qtf t ON t.token = s.token
      JOIN dfc ON dfc.token = t.token
      JOIN dl ON dl.doc = t.doc, nt
      WHERE t.doc <> s.query_id
      GROUP BY s.query_id, t.doc
    )
    SELECT query_id, doc, bm25_e5, n_terms FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY bm25_e5 DESC, doc ASC) AS rk
      FROM scored
    ) WHERE rk <= {k}"""


@register("q127_batch_more_like_this", _batch_mlt_oracle(5, 5, 5))
def q127_batch_more_like_this(spark, sf_dir):
    """Batch more-like-this — q126's find-similar-documents for a
    BLOCK of five query docs at once, fully distributed
    (store/text_index.py:batch_more_like_this): each query doc's five
    rarest terms (df from one token-keyed postings join — no driver
    term list) drive a single batch BM25 pass, self-matches excluded.
    The hard-negative-mining shape: at 100 TB the corpus is touched
    for |queries| pushdown rows, the postings once for term
    selection and once for scoring — never per query."""
    return _documents_text_index(spark, sf_dir).batch_more_like_this(
        load(spark, sf_dir, "documents"), "text",
        query_ids=[0, 1, 2, 3, 4], n_terms=5, k=5,
    )


@register("q128_vocabulary_from_index", _vocab_oracle(100))
def q128_vocabulary_from_index(spark, sf_dir):
    """q67's vocabulary head SERVED from the stored postings index —
    same oracle, no tokenize pass anywhere: one counter-width
    aggregation over the persisted (doc, token, tf) rows, TakeOrdered
    head, rank window over 100 rows. The build/serve split that makes
    vocabulary maintenance O(new-batch) at 100 TB: each append's
    tokens are already in the index, so frequency-pruning and
    tokenizer-training reads never re-tokenize the corpus
    (store/text_index.py:vocabulary)."""
    return _documents_text_index(spark, sf_dir).vocabulary(top=100)


def _corrected_bm25_oracle(terms: list[str], max_dist: int, k: int) -> str:
    from queens_spark.operators.corpus import BM25_SCALE

    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
    WITH tf AS (
      SELECT doc_id AS doc, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), dl AS (
      SELECT doc, sum(tf) AS dl FROM tf GROUP BY doc
    ), nt AS (
      SELECT count(*) AS n, sum(dl) AS t FROM dl
    ), vocab AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ), qs AS (
      SELECT unnest([{tl}]) AS q
    ), present AS (
      SELECT q FROM qs WHERE q IN (SELECT token FROM vocab)
    ), missing AS (
      SELECT q FROM qs WHERE q NOT IN (SELECT token FROM vocab)
    ), fixes AS (
      SELECT q, token FROM (
        SELECT m.q, v.token,
               ROW_NUMBER() OVER (PARTITION BY m.q
                 ORDER BY levenshtein(m.q, v.token) ASC,
                          v.df DESC, v.token ASC) AS rk
        FROM missing m JOIN vocab v
          ON abs(len(v.token) - len(m.q)) <= {max_dist}
         AND levenshtein(m.q, v.token) <= {max_dist}
      ) WHERE rk = 1
    ), rset AS (
      SELECT q AS token FROM present UNION SELECT token FROM fixes
    ), qtf AS (
      SELECT * FROM tf WHERE token IN (SELECT token FROM rset)
    ), dfc AS (
      SELECT token, count(*) AS df_docs FROM qtf GROUP BY token
    )
    SELECT q.doc AS doc,
           CAST(sum(
             ({BM25_SCALE} * (2*nt.n - 2*dfc.df_docs + 1) * 44 * q.tf * nt.t)
             // ((2*dfc.df_docs + 1)
                 * (20*q.tf*nt.t + 6*nt.t + 18*dl.dl*nt.n))
           ) AS BIGINT) AS bm25_e5,
           count(*) AS n_terms
    FROM qtf q
    JOIN dfc ON dfc.token = q.token
    JOIN dl ON dl.doc = q.doc, nt
    GROUP BY q.doc
    ORDER BY bm25_e5 DESC, q.doc ASC LIMIT {k}"""


@register(
    "q134_corrected_bm25",
    _corrected_bm25_oracle(["dupz", "spark", "mergee"], 1, 10),
)
def q134_corrected_bm25(spark, sf_dir):
    """Typo-tolerant BM25 — the did-you-mean tier of lexical
    retrieval: the query {dupz, spark, mergee} carries two misspelled
    terms; each resolves to its vocabulary-nearest indexed term within
    Levenshtein 1 (ties: distance ASC, df DESC, token ASC —
    deterministic, so the oracle reproduces the choice) and the
    corrected query scores with the exact integer BM25 of q110. The
    correction pass is one vocabulary-scale (token, df) aggregation,
    length-banded before the edit-distance compare (levenshtein ≥
    |length delta| — lossless pruning); indexed terms never pay it
    (store/text_index.py:resolve_terms / corrected_bm25_topk)."""
    return _documents_text_index(spark, sf_dir).corrected_bm25_topk(
        ["dupz", "spark", "mergee"], k=10, max_dist=1,
    )


def _boosted_bm25_oracle(terms: list[str], k: int) -> str:
    from queens_spark.operators.corpus import BM25_SCALE

    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
    WITH tf AS (
      SELECT doc_id AS doc, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), dl AS (
      SELECT doc, sum(tf) AS dl FROM tf GROUP BY doc
    ), nt AS (
      SELECT count(*) AS n, sum(dl) AS t FROM dl
    ), qtf AS (
      SELECT * FROM tf WHERE token IN ({tl})
    ), dfc AS (
      SELECT token, count(*) AS df_docs FROM qtf GROUP BY token
    ), scored AS (
      SELECT q.doc AS doc,
             CAST(sum(
               ({BM25_SCALE} * (2*nt.n - 2*dfc.df_docs + 1) * 44 * q.tf * nt.t)
               // ((2*dfc.df_docs + 1)
                   * (20*q.tf*nt.t + 6*nt.t + 18*dl.dl*nt.n))
             ) AS BIGINT) AS bm25_e5,
             count(*) AS n_terms
      FROM qtf q
      JOIN dfc ON dfc.token = q.token
      JOIN dl ON dl.doc = q.doc, nt
      GROUP BY q.doc
    )
    SELECT s.doc AS doc,
           s.bm25_e5 * (CASE d.source
                          WHEN 'src0' THEN 5 WHEN 'src1' THEN 3
                          ELSE 1 END) AS boosted_e5,
           s.bm25_e5, s.n_terms
    FROM scored s JOIN documents d ON d.doc_id = s.doc
    ORDER BY boosted_e5 DESC, doc ASC LIMIT {k}"""


@register(
    "q133_boosted_bm25", _boosted_bm25_oracle(["dup", "spark", "merge"], 10)
)
def q133_boosted_bm25(spark, sf_dir):
    """BM25 with document-prior boosting — the simplest
    learning-to-rank tier: each document's exact integer BM25 (the
    q110 query) multiplied by an integer source-quality prior (src0=5,
    src1=3, everything else 1 — the curated-over-crawl weighting a
    training-data pipeline applies). Because `source` is DENORMALIZED
    onto the stored postings (meta_cols, like dl), the ENTIRE boosted
    ranking serves from the same bucket-pruned postings scan — the
    oracle joins documents, the Spark plan touches no corpus. Integer
    × integer keeps the ranking bit-portable
    (store/text_index.py:boosted_bm25_topk)."""
    return _documents_text_index(spark, sf_dir).boosted_bm25_topk(
        ["dup", "spark", "merge"], "source", {"src0": 5, "src1": 3},
        k=10,
    )


def _snippet_oracle(terms: list[str], window: int, k: int) -> str:
    tl = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in sorted(set(terms))
    )
    return f"""
    WITH tok AS (
      SELECT doc, s.p - 1 AS pos FROM (
        SELECT doc_id AS doc,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(p := i, t := toks[i]))) AS s
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents))
      WHERE s.t IN ({tl})
    ),
    pm AS (SELECT doc, list(pos ORDER BY pos) AS pos FROM tok GROUP BY doc),
    sc AS (
      SELECT doc, pos,
             list_transform(pos, p -> len(list_filter(pos,
                 x -> x >= p AND x < p + {window}))) AS hits
      FROM pm
    )
    SELECT doc,
           CAST(pos[list_position(hits, list_max(hits))] AS BIGINT)
             AS window_start,
           CAST(list_max(hits) AS BIGINT) AS n_hits
    FROM sc
    ORDER BY n_hits DESC, doc ASC LIMIT {k}
    """


@register(
    "q132_best_snippet", _snippet_oracle(["table", "hash", "join"], 12, 10)
)
def q132_best_snippet(spark, sf_dir):
    """Best-window snippet selection from the stored POSITIONAL
    postings — the highlight primitive of a result page: for each
    candidate document the 12-token span with the most query-term
    hits, documents ranked by that count. One bucket-pruned scan of
    the three terms' postings, a per-doc sorted flatten of matched
    positions, a nested JVM HOF counting in-window hits — no
    tokenize, no documents touch, no UDF; both engines take the FIRST
    position attaining the max, so window_start is twin-exact
    (store/text_index.py:snippet_topk)."""
    return _documents_text_index(spark, sf_dir).snippet_topk(
        ["table", "hash", "join"], k=10, window=12
    )


def _mmr_oracle(query_id: int, pool: int, k: int) -> str:
    # Unrolled greedy MMR (lam = 0.5): like the pagerank/Lloyd twins, a
    # recursive CTE cannot express the per-step argmax over the growing
    # selected set, so the k selection steps unroll. All similarities
    # are the exact quantized-integer cosine; max over the empty
    # selected set coalesces to 0.0 (first pick = most relevant).
    from queens_spark.operators.similarity import (
        duckdb_int_dot,
        duckdb_quantize,
    )

    qq = duckdb_quantize(
        f"(SELECT embedding FROM embeddings WHERE vec_id = {query_id})"
    )
    sim_ps = (
        f"CAST({duckdb_int_dot('p.vq', 's.vq')} AS DOUBLE)"
        f" / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(s.n2 AS DOUBLE)))"
    )
    parts = [
        f"q AS (SELECT {qq} AS qq)",
        f"v AS (SELECT vec_id, {duckdb_quantize('embedding')} AS vq "
        f"FROM embeddings)",
        f"n AS (SELECT vec_id, vq, {duckdb_int_dot('vq', 'vq')} AS n2 "
        f"FROM v)",
        f"pool AS MATERIALIZED (SELECT vec_id, vq, n2, "
        f"CAST({duckdb_int_dot('vq', 'qq')} AS DOUBLE) / "
        f"(sqrt(CAST(n2 AS DOUBLE)) * "
        f"sqrt(CAST({duckdb_int_dot('qq', 'qq')} AS DOUBLE))) AS rel "
        f"FROM n, q ORDER BY rel DESC, vec_id ASC LIMIT {pool})",
        "sel0 AS (SELECT vec_id, vq, n2, rel, CAST(0 AS DOUBLE) AS mmr, "
        "0 AS rk FROM pool WHERE false)",
        # every sel{i} is referenced twice (cand/pick of step i+1) and
        # pool is referenced k times: without MATERIALIZED DuckDB
        # inlines them and the plan grows exponentially in k

    ]
    for i in range(1, int(k) + 1):
        parts.append(
            f"cand{i} AS (SELECT p.vec_id, p.vq, p.n2, p.rel, "
            f"0.5 * p.rel - 0.5 * coalesce((SELECT max({sim_ps}) "
            f"FROM sel{i - 1} s), 0.0) AS mmr FROM pool p "
            f"WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{i - 1}))"
        )
        parts.append(
            f"pick{i} AS (SELECT vec_id, vq, n2, rel, mmr, {i} AS rk "
            f"FROM cand{i} ORDER BY mmr DESC, vec_id ASC LIMIT 1)"
        )
        parts.append(
            f"sel{i} AS MATERIALIZED (SELECT * FROM sel{i - 1} "
            f"UNION ALL SELECT * FROM pick{i})"
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT vec_id, rel AS relevance, mmr AS mmr_score,
           CAST(rk AS BIGINT) AS mmr_rank
    FROM sel{int(k)} ORDER BY mmr_rank
    """


@register("q131_mmr_rerank", _mmr_oracle(0, 30, 8))
def q131_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance diversity rerank (lam=0.5) of the
    30-deep exact-cosine pool for query vec_id=0, greedy top-8 — the
    redundancy-aware retrieval finish (RAG context selection): a
    near-dup-heavy corpus would otherwise fill the whole top-k with
    copies of one document. Relevance is computed DISTRIBUTED (the
    q30 exact integer-cosine scan + TakeOrdered); the greedy selection
    is O(k·pool·dim) arithmetic over the collected 30-row pool — the
    right shape at any corpus size since the pool is bounded by
    construction. Exact integer dots divided as IEEE doubles make the
    whole selection bit-portable to the unrolled DuckDB twin
    (operators/retrieval.py:mmr_rerank)."""
    from queens_spark.operators.retrieval import mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return mmr_rerank(
        emb, "embedding", "vec_id", [float(x) for x in qvec],
        pool=30, k=8, lam=0.5,
    )


def _token_stats_oracle(top: int) -> str:
    return f"""
    WITH tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), agg AS (
      SELECT token, count(*) AS df_docs, SUM(tf) AS occurrences
      FROM tf GROUP BY token
    )
    SELECT token, df_docs, CAST(occurrences AS BIGINT) AS occurrences,
           CAST(row_number() OVER (ORDER BY df_docs DESC, token) AS BIGINT) AS rank
    FROM agg
    ORDER BY rank
    LIMIT {top}
    """


def _documents_capped_text_index(spark: SparkSession, sf_dir: str):
    """A df-CAPPED sibling of :func:`_documents_text_index` (its own
    name in the same /tmp manifest — independent build, same caching):
    tokens appearing in more than half the corpus' documents are not
    indexed (the stopword-pruning contract of
    store/text_index.py:_write_postings_segment). Corpus stats anchor
    on the PRE-cap frame, so surviving-term BM25 is bit-identical to
    the uncapped index — which is exactly what q130's oracle checks."""
    import hashlib
    import os
    import tempfile

    from queens_spark.store.text_index import build_or_load_text_index
    from queens_spark.store.vector_index import source_fingerprint

    src = os.path.join(sf_dir, "documents.parquet")
    key = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    index_dir = os.path.join(
        tempfile.gettempdir(), "queens_spark_tindex", key
    )
    return build_or_load_text_index(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        "documents_capped",
        index_dir,
        fingerprint=source_fingerprint(src),
        max_df_ratio=0.5,
    )


@register("q130_capped_bm25", _bm25_oracle(["dup"], 10))
def q130_capped_bm25(spark, sf_dir):
    """BM25 over a df-CAPPED postings index (max_df_ratio=0.5 — the
    token_stats()-driven stopword-pruning build) for the query
    {dup, spark}: 'spark' sits in ~78%% of documents at every shipped
    SF, so the cap dropped its postings entirely, while 'dup' (df≈5%%)
    survives untouched. The oracle is the UNCAPPED single-term BM25
    for {dup} — passing proves the whole capped contract at once:
    (1) capped-out terms contribute nothing and retrieve nothing,
    (2) surviving terms score bit-identically to a full index (N, T,
    tf, dl, df all anchored pre-cap), (3) docs matching only the
    capped term never appear. At 100 TB the cap converts the hot
    stop-word buckets (most of the postings bytes) into nothing
    scanned, for a vocabulary whose rational idf is ≈0 anyway."""
    return _documents_capped_text_index(spark, sf_dir).bm25_topk(
        ["dup", "spark"], k=10
    )


@register("q129_token_stats", _token_stats_oracle(50))
def q129_token_stats(spark, sf_dir):
    """Hot-token audit SERVED from the stored postings index — the
    lexical twin of the vector side's cell-balance audit (cell_stats
    / q120's trained-cell sizes): the 50 highest-df
    tokens with their occurrence mass (store/text_index.py:
    token_stats). A stop-word-heavy corpus shows df ≈ N rows here,
    whose crc32 buckets hold a disproportionate share of the postings
    bytes — the signal to rebuild with max_df_ratio (the df-capped
    stopword contract: surviving-term BM25 stays bit-identical, only
    capped-out terms stop retrieving). One counter-width aggregation
    over the stored (doc, token, tf) rows + a TakeOrdered head — no
    tokenize, no corpus touch. Reference analog: the per-column
    profile stats report (queens/etl/process.py:300-332) as an
    index-health report."""
    return _documents_text_index(spark, sf_dir).token_stats(top=50).select(
        "token", "df_docs", "occurrences", "rank"
    )


def _span_dedup_oracle(n: int, min_count: int) -> str:
    from queens_spark.operators.dedup import duckdb_positional_shingles

    sh = duckdb_positional_shingles("text", n)
    return f"""
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
               AS toks,
             {sh} AS hashes
      FROM documents
    ), h AS (
      SELECT doc_id, unnest(list_transform(range(1, len(hashes)+1),
             i -> struct_pack(pos := i, h := hashes[i]))) AS u
      FROM s
    ), h2 AS (
      SELECT doc_id, u.pos AS pos, u.h AS h FROM h
    ), freq AS (
      SELECT h FROM h2 GROUP BY h HAVING count(*) >= {min_count}
    ), st AS (
      SELECT doc_id, list_sort(list(pos)) AS starts
      FROM h2 WHERE h IN (SELECT h FROM freq) GROUP BY doc_id
    ), j AS (
      SELECT s.doc_id, s.toks, coalesce(st.starts, []) AS starts
      FROM s LEFT JOIN st ON st.doc_id = s.doc_id
    ), k AS (
      SELECT doc_id, toks,
             list_filter(range(1, len(toks)+1),
               jx -> len(list_filter(starts,
                         sx -> sx <= jx AND jx < sx + {n})) = 0
             ) AS kept
      FROM j
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
           coalesce(
             array_to_string(list_transform(kept, jx -> toks[jx]), ' '),
             ''
           ) AS clean_text
    FROM k
    """


@register("q135_span_dedup", _span_dedup_oracle(8, 2))
def q135_span_dedup(spark, sf_dir):
    """Duplicated-SPAN removal — ExactSubstr dedup (Lee et al. 2022):
    document-level dedup (q26-q29, q42) drops whole near-duplicates,
    but real crawls duplicate SPANS — license boilerplate, navigation
    chrome, quoted passages — inside otherwise-unique pages. Every
    8-token span occurring ≥ 2 times corpus-wide (occurrences, not
    distinct docs: within-doc repeats are duplicated training signal
    too) is removed from every document; surviving tokens re-join as
    the cleaned text. The oracle replays the identical positional
    shingle hashes and coverage semantics (interval union ==
    per-position probe), so clean_text matches byte-for-byte. Scale
    shape (operators/dedup.py:remove_duplicated_spans): one persisted
    tokenize+hash pass, sh_hash-keyed count + semi-join (exchange
    reused), per-doc LINEAR interval-merge reconstruction in pure JVM
    array code — the duplicated-span set is unbounded by design so it
    never broadcasts."""
    from queens_spark.operators.dedup import remove_duplicated_spans

    docs = load(spark, sf_dir, "documents")
    return remove_duplicated_spans(
        docs, "text", "doc_id", n=8, min_count=2
    ).select(F.col("doc").alias("doc_id"), "n_tokens", "n_removed", "clean_text")


def _bpe_pairs_oracle(top: int) -> str:
    return f"""
    WITH w AS (
      SELECT unnest(
        list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
      ) AS w FROM documents
    ), wc AS (
      SELECT w, count(*) AS c FROM w GROUP BY w
    ), p AS (
      SELECT c, unnest(list_transform(range(1, length(w)),
             i -> struct_pack(l := substring(w, i, 1),
                              r := substring(w, i+1, 1)))) AS u
      FROM wc WHERE length(w) >= 2
    )
    SELECT u.l AS left_sym, u.r AS right_sym,
           CAST(sum(c) AS BIGINT) AS pair_count
    FROM p GROUP BY u.l, u.r
    ORDER BY pair_count DESC, left_sym ASC, right_sym ASC LIMIT {top}
    """


@register("q136_bpe_pair_counts", _bpe_pairs_oracle(50))
def q136_bpe_pair_counts(spark, sf_dir):
    """BPE tokenizer training's merge-selection statistic: adjacent
    character-pair counts weighted by corpus word frequency — the
    first (and SQL-expressible) step of the merge loop; the full
    iterative trainer (operators/corpus.py:learn_bpe — the
    HuggingFace-trainer shape, one distributed wordcount then a
    vocabulary-bounded driver loop) and the Arrow-batched encode UDF
    (bpe_encode) are equivalence-tested in tests/test_bpe.py. Scale
    shape: the corpus is read ONCE (wordcount, map-side combined);
    pairs explode from the distinct-word VOCABULARY, not the corpus,
    so the second aggregation is Heaps'-law bounded; TakeOrdered
    finish."""
    from queens_spark.operators.corpus import bpe_pair_counts

    docs = load(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, "text", top=50)


def _lm_buckets_oracle() -> str:
    return f"""
    WITH pos AS (
      SELECT doc_id AS doc,
             string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      FROM (SELECT doc_id, unnest({_DUCK_BIGRAMS}) AS bg FROM documents)
    ), c2 AS (
      SELECT w1, w2, count(*) AS c2 FROM pos GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
    ), lm AS (
      SELECT c2.w1 AS w1, w2, c2 * 1000000 // c1 AS p_e6
      FROM c2 JOIN c1 ON c2.w1 = c1.w1
    ), sc AS (
      SELECT doc, count(*) AS n_bigrams,
             CAST(SUM(p_e6) AS BIGINT) // count(*) AS avg_p_e6
      FROM pos JOIN lm ON pos.w1 = lm.w1 AND pos.w2 = lm.w2
      GROUP BY doc
    ), m AS (
      SELECT avg_p_e6, CAST(SUM(n_bigrams) AS BIGINT) AS mass
      FROM sc GROUP BY avg_p_e6
    ), c AS (
      SELECT avg_p_e6,
             SUM(mass) OVER (ORDER BY avg_p_e6 DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(mass) OVER () AS t
      FROM m
    ), b AS (
      SELECT avg_p_e6,
             CASE WHEN cum * 3 <= t THEN 'head'
                  WHEN cum * 3 <= 2 * t THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM c
    )
    SELECT sc.doc AS doc, sc.n_bigrams, sc.avg_p_e6, b.bucket
    FROM sc JOIN b ON b.avg_p_e6 = sc.avg_p_e6
    """


@register("q137_perplexity_buckets", _lm_buckets_oracle())
def q137_perplexity_buckets(spark, sf_dir):
    """CCNet perplexity bucketing — the head/middle/tail quality split
    every curated-crawl pipeline applies: docs score under the
    corpus's own bigram LM (q79's exact fixed-point fluency proxy)
    and split at 1/3 and 2/3 of cumulative bigram mass, most-fluent
    first. The 100×-safe part (corpus.lm_quality_buckets): the running
    mass windows over the (score → mass) aggregation — bounded by the
    score's fixed-point domain at ≤ 1e6 rows regardless of corpus
    size — and the bucket map joins back on the score value (AQE
    broadcast); the corpus never globally sorts."""
    from queens_spark.operators.corpus import lm_quality_buckets

    return lm_quality_buckets(
        load(spark, sf_dir, "documents"), "text", "doc_id"
    )


def _verdict_ctes(extra_cols: str = "") -> str:
    """The filter-cascade verdict as reusable DuckDB CTEs ``d``/``v``
    (q138's funnel and q166's mixture plan share them). *extra_cols*
    threads passthrough columns (e.g. ``source,``) into both."""
    from queens_spark.operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    cases = []
    for lang in langs:
        others = [f"s_{lang} >= s_{o}" for o in langs if o != lang]
        cases.append(
            "WHEN " + " AND ".join(others + [f"s_{lang} > 0"])
            + f" THEN '{lang}'"
        )
    lang_case = "CASE " + " ".join(cases) + " ELSE 'und' END"
    scores = ",\n             ".join(
        f"{_duck_lang_score(m)} AS s_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    lines = ("list_filter(list_transform(string_split(text, chr(10)), "
             "x -> trim(x)), x -> x <> '')")
    return f"""
    WITH d AS (
      SELECT doc_id, {extra_cols} text,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tok,
             CASE WHEN len({_DUCK_TOKS}) > 0
                  THEN CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE)
                       / len({_DUCK_TOKS})
                  ELSE 0.0 END AS ttr,
             CAST(length(text) AS BIGINT) AS n,
             CAST(length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
                  AS BIGINT) AS n_clean,
             {lines} AS ls,
             CAST(length(text) - length(replace(text, '#', ''))
                  AS BIGINT) AS n_hash,
             CAST(len(regexp_extract_all(text, '\\.\\.\\.'))
                  AS BIGINT) AS n_ellipsis,
             {scores}
      FROM documents
    ), v AS (
      SELECT doc_id, {extra_cols} n_tok AS n_tokens,
        CASE
          WHEN n_tok < 15 THEN 'too_short'
          WHEN ({lang_case}) <> 'en' THEN 'language'
          WHEN (CASE WHEN len(ls) > 0
                THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)
                     / CAST(len(ls) AS DOUBLE)
                ELSE 0.0 END) > 0.3 THEN 'repetition'
          WHEN (CASE WHEN n_tok > 0
                THEN CAST(n_hash + n_ellipsis AS DOUBLE)
                     / CAST(n_tok AS DOUBLE)
                ELSE 0.0 END) > 0.1 THEN 'symbols'
          WHEN (0.4 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
                + 0.3 * (1.0 - CASE WHEN n > 0
                     THEN CAST(n - n_clean AS DOUBLE) / n
                     ELSE 0.0 END)
                + 0.3 * ttr) < 0.5 THEN 'low_quality'
          ELSE 'keep'
        END AS verdict
      FROM d
    )"""


def _filter_funnel_oracle() -> str:
    return f"""
    {_verdict_ctes()}
    SELECT verdict,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           count(*) * 10000 // (SELECT count(*) FROM v) AS doc_share_bp
    FROM v GROUP BY verdict
    """


@register("q138_filter_funnel", _filter_funnel_oracle())
def q138_filter_funnel(spark, sf_dir):
    """FineWeb/Gopher-style filter-cascade AUDIT: every document gets
    its first-failing rule (too_short → language → repetition →
    symbols → low_quality → keep — cheap structural screens before
    statistical ones) and the funnel reports docs, token mass, and
    exact basis-point share per verdict — the report a data team
    ships with every corpus release. One linear corpus scan (each
    screen is a zero-shuffle per-row expression from operators/
    text.py), a ≤ 6-group counter aggregation, and a whole-frame
    window over THAT 6-row frame for the share — never a second
    corpus pass (operators/text.py:filter_verdict / filter_funnel)."""
    from queens_spark.operators.text import filter_funnel

    return filter_funnel(
        load(spark, sf_dir, "documents"), "text", "doc_id"
    )


def _facet_oracle(terms: list[str], facet: str) -> str:
    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
    WITH m AS (
      SELECT DISTINCT doc_id, {facet} FROM (
        SELECT doc_id, {facet}, unnest({_DUCK_TOKS}) AS token
        FROM documents
      ) WHERE token IN ({tl})
    )
    SELECT {facet} AS facet_value, count(*) AS n_docs
    FROM m GROUP BY {facet}
    ORDER BY n_docs DESC, facet_value ASC
    """


@register("q139_faceted_search", _facet_oracle(["dup", "merge"], "source"))
def q139_faceted_search(spark, sf_dir):
    """Faceted search — the result-set composition sidebar every
    search UI ships: for the query {dup, merge}, matching-document
    counts per source over the WHOLE candidate pool (standard facet
    semantics: facets describe the result set, not the top-k page).
    Served from the stored postings index with zero corpus touch: the
    facet column rides the bucket-pruned scan via meta_cols (no
    documents join), multi-term matches collapse per (doc, facet),
    then one facet-width counter aggregation
    (store/text_index.py:facet_counts)."""
    return (
        _documents_text_index(spark, sf_dir)
        .facet_counts(["dup", "merge"], "source")
        .select(
            F.col("source").alias("facet_value"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
    )


def _knn_graph_oracle(k: int) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    cos = (
        f"CAST({duckdb_int_dot('a.q', 'b.q')} AS DOUBLE)"
        f" / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, {qv} AS q FROM embeddings
    ), n AS (
      SELECT vec_id, q, {duckdb_int_dot('q', 'q')} AS n2 FROM v
    ), cents AS (
      SELECT vec_id AS centroid_id, q AS cq, n2 AS cn2 FROM n
      WHERE vec_id % 200 = 0
    ), assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)
                   / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC,
                 c.centroid_id ASC) AS rk
        FROM n v, cents c
      ) WHERE rk = 1
    ), av AS (
      SELECT a.vec_id, a.centroid_id, n.q, n.n2
      FROM assign a JOIN n ON n.vec_id = a.vec_id
    ), edges AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id, {cos} AS cos
      FROM av a JOIN av b
        ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, rank, cos FROM (
      SELECT vec_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM edges
    ) WHERE rank <= {k}
    """


@register("q140_knn_graph", _knn_graph_oracle(5))
def q140_knn_graph(spark, sf_dir):
    """Cluster-bounded exact kNN graph — SemDeDup's pair search
    generalized to the reusable artifact dataset cartography and
    graph-based curation consume: every vector's top-5 neighbors
    within its coarse cell (centroids vec_id %% 200 == 0, the q33/q86
    convention), exact int64-dot cosines, deterministic neighbor-id
    ties. The quadratic term is bounded to Σ cluster²; the top-k
    window partitions by source vector (group ≤ cluster size); pure
    JVM fold arithmetic, no UDF
    (operators/similarity.py:knn_graph)."""
    from queens_spark.operators.similarity import coarse_centroids, knn_graph

    emb = load(spark, sf_dir, "embeddings")
    cents = coarse_centroids(
        emb, "embedding", "vec_id", F.col("vec_id") % 200 == 0
    )
    return knn_graph(emb, "embedding", "vec_id", k=5, centroids_df=cents)


def _alignment_oracle(n_buckets: int) -> str:
    from queens_spark.operators.corpus import ALIGN_SCALE
    from queens_spark.operators.text import duckdb_char_poly_hash

    h = duckdb_char_poly_hash("tok")
    return f"""
    WITH f AS (
      SELECT doc_id, (source = 'src0') AS is_t,
             ({h}) % {n_buckets} AS b
      FROM (SELECT doc_id, source, unnest({_DUCK_TOKS}) AS tok
            FROM documents)
    ), db AS (
      SELECT doc_id, b, count(*) AS cnt FROM f GROUP BY doc_id, b
    ), sb AS (
      SELECT b, count(*) AS cs FROM f GROUP BY b
    ), tb AS (
      SELECT b, count(*) AS ct FROM f WHERE is_t GROUP BY b
    ), tot AS (
      SELECT count(*) AS ts,
             (SELECT count(*) FROM f WHERE is_t) AS tt
      FROM f
    )
    SELECT doc_id AS doc,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(sum(cnt * (
             (coalesce(ct, 0) + 1) * {ALIGN_SCALE} // (tt + {n_buckets})
             - (cs + 1) * {ALIGN_SCALE} // (ts + {n_buckets})
           )) AS BIGINT) AS align_e9
    FROM db JOIN sb USING (b) LEFT JOIN tb USING (b), tot
    GROUP BY doc_id
    """


@register("q141_dsir_alignment", _alignment_oracle(4096))
def q141_dsir_alignment(spark, sf_dir):
    """DSIR-style data selection score: every document rated by how
    much better its hashed unigram features fit the TARGET subcorpus
    (source = 'src0' — the curated-slice stand-in) than the raw
    corpus, as the bit-portable linear difference of Laplace-smoothed
    fixed-point distributions (exact int64 — the log-ratio form isn't
    bit-portable; this ranks by the same target-likeness signal).
    Scale shape (corpus.hashed_alignment_scores): ONE tokenize/explode
    pass feeds per-doc, corpus, and target aggregations; both
    distribution tables are bounded at 4096 counter rows and
    broadcast; the per-doc finish is a doc-keyed counter sum."""
    from queens_spark.operators.corpus import hashed_alignment_scores

    return hashed_alignment_scores(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        "source = 'src0'",
        n_buckets=4096,
    )


def _hubness_oracle(k: int) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    cos = (
        f"CAST({duckdb_int_dot('a.q', 'b.q')} AS DOUBLE)"
        f" / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, {qv} AS q FROM embeddings
    ), n AS (
      SELECT vec_id, q, {duckdb_int_dot('q', 'q')} AS n2 FROM v
    ), cents AS (
      SELECT vec_id AS centroid_id, q AS cq, n2 AS cn2 FROM n
      WHERE vec_id % 200 = 0
    ), assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)
                   / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC,
                 c.centroid_id ASC) AS rk
        FROM n v, cents c
      ) WHERE rk = 1
    ), av AS (
      SELECT a.vec_id, a.centroid_id, n.q, n.n2
      FROM assign a JOIN n ON n.vec_id = a.vec_id
    ), topk AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY {cos} DESC, b.vec_id ASC) AS rank
        FROM av a JOIN av b
          ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
      ) WHERE rank <= {k}
    ), indeg AS (
      SELECT e.vec_id,
             CAST(coalesce(d.c, 0) AS BIGINT) AS in_degree
      FROM embeddings e LEFT JOIN (
        SELECT neighbor_id, count(*) AS c FROM topk GROUP BY neighbor_id
      ) d ON d.neighbor_id = e.vec_id
    )
    SELECT in_degree, count(*) AS n_vectors
    FROM indeg GROUP BY in_degree ORDER BY in_degree
    """


@register("q142_knn_hubness", _hubness_oracle(5))
def q142_knn_hubness(spark, sf_dir):
    """Hubness audit of the kNN graph — the documented ANN pathology
    check (high-dimensional hubs appear in far more top-k lists than
    k, skewing retrieval and marking near-duplicate cores): the full
    in-degree histogram of q140's cluster-bounded graph, zero-degree
    vectors included. Two counter-width aggregations over the
    |V|·k-bounded edge list; output cardinality is the distinct
    in-degree count — the vector-quality twin of the lexical
    hot-token audit (q129)
    (operators/similarity.py:knn_hubness)."""
    from queens_spark.operators.similarity import (
        coarse_centroids,
        knn_hubness,
    )

    emb = load(spark, sf_dir, "embeddings")
    cents = coarse_centroids(
        emb, "embedding", "vec_id", F.col("vec_id") % 200 == 0
    )
    return knn_hubness(emb, "embedding", "vec_id", k=5, centroids_df=cents)


def _covariance_oracle() -> str:
    from queens_spark.operators.similarity import duckdb_quantize

    qv = duckdb_quantize("embedding")
    return f"""
    WITH q AS (
      SELECT vec_id, {qv} AS q FROM embeddings
    ), x AS (
      SELECT vec_id, u.i AS i, u.x AS x FROM (
        SELECT vec_id, unnest(list_transform(range(1, len(q)+1),
               k -> struct_pack(i := k - 1, x := q[k]))) AS u
        FROM q)
    ), pairs AS (
      SELECT a.i AS dim_i, b.i AS dim_j,
             CAST(sum(a.x * b.x) AS BIGINT) AS sum_xy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ), dims AS (
      SELECT i, CAST(sum(x) AS BIGINT) AS sx FROM x GROUP BY i
    ), cnt AS (
      SELECT count(*) AS n FROM q
    )
    SELECT p.dim_i, p.dim_j, cnt.n,
           di.sx AS sum_i, dj.sx AS sum_j, p.sum_xy,
           cnt.n * p.sum_xy - di.sx * dj.sx AS cov_num
    FROM pairs p
    JOIN dims di ON di.i = p.dim_i
    JOIN dims dj ON dj.i = p.dim_j, cnt
    """


@register("q143_embedding_covariance", _covariance_oracle())
def q143_embedding_covariance(spark, sf_dir):
    """Embedding covariance statistics — the PCA/whitening prep and
    the anisotropy/collapse audit for an embedding model: the full
    upper-triangle (dim_i ≤ dim_j) covariance numerators of the
    quantized embedding matrix in exact int64 (cov_num = n·Σxy −
    Σx·Σy at scale n²·QUANT² — the eigen-decomposition consuming this
    d×d table is dimension-scale, downstream; the corpus-scale part
    is this pass). One Arrow-batched corpus pass accumulates
    per-partition (count, Σx, upper X'X) counter states merged by
    addition — the integer-Lloyd convention (q120); the corpus never
    shuffles (operators/similarity.py:embedding_covariance)."""
    from queens_spark.operators.similarity import embedding_covariance

    return embedding_covariance(load(spark, sf_dir, "embeddings"), "embedding")


def _related_terms_oracle(seed: str, k: int, min_co: int) -> str:
    from queens_spark.operators.corpus import PMI_SCALE

    return f"""
    WITH tf AS (
      SELECT DISTINCT doc_id AS doc, token
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents)
    ), seed AS (
      SELECT doc FROM tf WHERE token = '{seed}'
    ), nn AS (
      SELECT count(DISTINCT doc) AS n FROM tf
    ), dfs AS (
      SELECT count(*) AS df_s FROM seed
    ), co AS (
      SELECT token, count(*) AS co_df
      FROM tf
      WHERE doc IN (SELECT doc FROM seed) AND token <> '{seed}'
      GROUP BY token HAVING count(*) >= {min_co}
    ), dft AS (
      SELECT token, count(*) AS df_docs FROM tf GROUP BY token
    )
    SELECT co.token, co.co_df, dft.df_docs,
           co.co_df * nn.n * {PMI_SCALE} // (dfs.df_s * dft.df_docs)
             AS score_e6
    FROM co JOIN dft USING (token), nn, dfs
    ORDER BY score_e6 DESC, token ASC LIMIT {k}
    """


@register("q144_related_terms", _related_terms_oracle("dup", 20, 2))
def q144_related_terms(spark, sf_dir):
    """Query-expansion mining — the "related searches" primitive: the
    20 terms most associated with 'dup' by document co-occurrence,
    ranked by the exact-integer PMI proxy co_df·N·1e6 div
    (df_seed·df_term) (monotone in PMI for a fixed seed; log isn't
    bit-portable, the ratio is). One persisted distinct-(doc, token)
    projection feeds the seed set, co-counts, and df table; the
    seed semi-join is the only doc-keyed shuffle; TakeOrdered finish
    (operators/corpus.py:related_terms)."""
    from queens_spark.operators.corpus import related_terms

    return related_terms(
        load(spark, sf_dir, "documents"), "text", "doc_id", "dup",
        k=20, min_co=2,
    )


def _cluster_histogram_oracle(threshold: float) -> str:
    comp = _components_oracle(threshold)
    return f"""
    WITH comp AS ({comp})
    SELECT cluster_size, count(*) AS n_clusters
    FROM (
      SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component_id
    ) GROUP BY cluster_size ORDER BY cluster_size
    """


@register("q145_cluster_size_histogram", _cluster_histogram_oracle(0.8))
def q145_cluster_size_histogram(spark, sf_dir):
    """Duplication-profile curve — the "how duplicated is my corpus"
    audit every dedup report leads with: the histogram of dedup
    cluster sizes over q36's full-recall component graph (size-1
    clusters = unique docs; the tail = template farms). Two
    counter-width aggregations on top of the STORED cluster map's
    component labels (store/cluster_map.py — no clustering in this
    plan; output cardinality is the distinct-size count)."""
    comp = _documents_clusters(spark, sf_dir).members()
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def _collocations_oracle(k: int, min_count: int) -> str:
    return f"""
    WITH pos AS (
      SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      FROM (SELECT unnest({_DUCK_BIGRAMS}) AS bg FROM documents)
    ), c2 AS (
      SELECT w1, w2, count(*) AS c2 FROM pos GROUP BY w1, w2
      HAVING count(*) >= {min_count}
    ), uni AS (
      SELECT w, count(*) AS u
      FROM (SELECT unnest({_DUCK_TOKS}) AS w FROM documents) GROUP BY w
    ), tot AS (
      SELECT (SELECT count(*) FROM pos) AS nb,
             (SELECT count(*)
              FROM (SELECT unnest({_DUCK_TOKS}) AS t FROM documents)) AS nt
    )
    SELECT c2.w1, c2.w2, c2.c2, a.u AS u1, b.u AS u2,
           CAST(c2.c2 AS DOUBLE) / CAST(tot.nb AS DOUBLE)
             * CAST(tot.nt AS DOUBLE) / CAST(a.u AS DOUBLE)
             * CAST(tot.nt AS DOUBLE) / CAST(b.u AS DOUBLE) AS pmi_ratio
    FROM c2 JOIN uni a ON a.w = c2.w1 JOIN uni b ON b.w = c2.w2, tot
    ORDER BY pmi_ratio DESC, w1 ASC, w2 ASC LIMIT {k}
    """


@register("q146_collocations", _collocations_oracle(50, 5))
def q146_collocations(spark, sf_dir):
    """Collocation mining — PMI phrase extraction for tokenizer /
    vocabulary induction: top-50 bigrams by the fixed-order PMI ratio
    c2/NB · NT/u1 · NT/u2 (identical IEEE sequence on both engines —
    integer scaling overflows at corpus scale and log isn't
    bit-portable; the ratio ranks identically), min count 5 to
    suppress PMI's unstable low-count tail. One persisted bigram
    positions pass + wordcount; counter-width joins; TakeOrdered
    (operators/corpus.py:collocations)."""
    from queens_spark.operators.corpus import collocations

    return collocations(
        load(spark, sf_dir, "documents"), "text", "doc_id",
        k=50, min_count=5,
    )


def _winnow_oracle(n: int, w: int) -> str:
    from queens_spark.operators.dedup import duckdb_winnow_ctes

    sels = duckdb_winnow_ctes("text", n, w)
    return f"""
    WITH s AS (
      SELECT doc_id, unnest({sels}) AS u FROM documents
    )
    SELECT DISTINCT doc_id, u.pos AS pos, u.fp AS fp FROM s
    """


@register("q147_winnowing", _winnow_oracle(4, 4))
def q147_winnowing(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. 2003 — MOSS): each
    4-window of positional 4-gram hashes selects its rightmost
    minimal hash; the distinct selections guarantee any shared
    substring of ≥ 7 tokens produces at least one shared fingerprint
    while storing ~2/(w+1) of the hashes — the density/guarantee
    trade plain rolling-hash sampling (q25) lacks. Pure per-row JVM
    fold arithmetic, zero shuffle before the final distinct
    (operators/dedup.py:winnow_fingerprints)."""
    from queens_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(
        load(spark, sf_dir, "documents"), "text", "doc_id", n=4, w=4
    ).select(F.col("doc").alias("doc_id"), "pos", "fp")


def _lsh_recall_oracle(threshold: float) -> str:
    from queens_spark.operators.sampling import duckdb_hash_bucket
    from queens_spark.operators.dedup import (
        LSH_BANDS, LSH_ROWS, MINHASH_A, MINHASH_B, MINHASH_K, MINHASH_P,
        duckdb_shingle_hashes,
    )

    sig_elems = ", ".join(
        f"list_min(list_transform(hs, x -> "
        f"({MINHASH_A[i]} * x + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(MINHASH_K)
    )
    band_selects = []
    for band in range(LSH_BANDS):
        cols = " || '_' || ".join(
            f"CAST(sig[{band * LSH_ROWS + r + 1}] AS VARCHAR)"
            for r in range(LSH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {band} AS band_id, {cols} AS band_sig FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    jac = ("CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)"
           " / (len(ha.hs) + len(hb.hs)"
           " - len(list_intersect(ha.hs, hb.hs)))")
    return f"""
    WITH h AS (
      SELECT doc_id, hs FROM (
        SELECT doc_id, {duckdb_shingle_hashes('text')} AS hs FROM documents
        WHERE {duckdb_hash_bucket('doc_id')} < 3000)
      WHERE len(hs) > 0
    ), ex AS (
      SELECT doc_id, unnest(hs) AS sh FROM h
    ), truth AS (
      SELECT c.id_a, c.id_b FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      ) c
      JOIN h ha ON ha.doc_id = c.id_a
      JOIN h hb ON hb.doc_id = c.id_b
      WHERE {jac} >= {threshold}
    ), sig AS (
      SELECT doc_id, hs, [{sig_elems}] AS sig FROM h
    ), bands AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), hit AS (
      SELECT t.id_a, t.id_b FROM truth t
      JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    ), m AS (
      SELECT (SELECT count(*) FROM truth) AS n_true,
             (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM hit) AS n_hit
    )
    SELECT n_true, n_candidates, n_hit,
           CASE WHEN n_true = 0 THEN 10000
                ELSE n_hit * 10000 // n_true END AS recall_bp,
           CASE WHEN n_candidates = 0 THEN 0
                ELSE n_hit * 10000 // n_candidates END AS efficiency_bp
    FROM m
    """


@register("q148_lsh_recall_eval", _lsh_recall_oracle(0.8))
def q148_lsh_recall_eval(spark, sf_dir):
    """Dedup-quality harness — q102/q116's measure-don't-guess
    posture applied to the DEDUP side: LSH banding's candidate recall
    against the UNCAPPED exact Jaccard ≥ 0.8 pair set (ground truth
    from the one-pass exact inverted index, ngram_jaccard_pairs
    max_df=None), plus candidate efficiency (how many banded
    candidates are true pairs) — the two numbers that justify a
    band/row configuration before trusting it at scale. Runs on a
    deterministic 30%% doc sample (hash_sample — the q102 convention:
    recall is a statistic, and exact ground truth is quadratic in
    duplicate-cluster size). Exact integer counts and basis
    points."""
    from queens_spark.operators.dedup import (
        _persist,
        lsh_candidate_pairs,
        ngram_jaccard_pairs,
    )

    from queens_spark.operators.sampling import hash_sample

    # the harness runs on a deterministic 30% doc sample — the q102
    # convention: recall is a STATISTIC, and the uncapped exact
    # ground truth is quadratic in duplicate-cluster size, so
    # evaluate on a stable sample rather than the full corpus
    docs = hash_sample(
        load(spark, sf_dir, "documents"), "doc_id", 3000
    )
    # persist barriers: each pair frame feeds its own count AND the
    # hit semi-join — unpersisted, the shingle/banding pipelines run
    # once per consumer
    truth = _persist(ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.8, max_df=None
    ).select("id_a", "id_b"))
    cand = _persist(lsh_candidate_pairs(docs, "text", "doc_id").select(
        "id_a", "id_b"
    ))
    hit = truth.join(cand, ["id_a", "id_b"], "left_semi")
    m = (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    return m.select(
        "n_true", "n_candidates", "n_hit",
        F.expr(
            "CASE WHEN n_true = 0 THEN 10000 "
            "ELSE n_hit * 10000 div n_true END"
        ).alias("recall_bp"),
        F.expr(
            "CASE WHEN n_candidates = 0 THEN 0 "
            "ELSE n_hit * 10000 div n_candidates END"
        ).alias("efficiency_bp"),
    )


_MAD_ORACLE = """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, m.med, e.value,
             abs(e.value - m.med) AS dev
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           any_value(d.med) AS med,
           any_value(a.mad) AS mad,
           count(*) AS n_events,
           CAST(sum(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           sum(CASE WHEN d.dev > 3 * a.mad THEN 1 ELSE 0 END)
             * 10000 // count(*) AS outlier_bp
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
"""


@register("q149_mad_outliers", _MAD_ORACLE)
def q149_mad_outliers(spark, sf_dir):
    """Robust anomaly screen — median absolute deviation, the
    outlier detector that (unlike q115's 2σ z-score) a few huge
    anomalies cannot mask, because median and MAD are both
    50%-breakdown statistics: per event type, events with
    |value − median| > 3·MAD are flagged, with exact basis-point
    rates. Both medians come from the distributed two-phase-rank
    quantiles (operators/quantiles.py — bit-identical to
    quantile_cont, q58's guarantee), so no per-group buffer exists at
    any group size; the deviation frame is persisted once and feeds
    the MAD ranking and the flag count."""
    from queens_spark.operators.dedup import _persist
    from queens_spark.operators.quantiles import exact_group_quantiles

    ev = load(spark, sf_dir, "events")
    med = exact_group_quantiles(ev, "event_type", "value", {"med": 0.5})
    dev = _persist(
        ev.join(med, "event_type").select(
            "event_type", "med",
            F.abs(F.col("value") - F.col("med")).alias("dev"),
        )
    )
    mad = exact_group_quantiles(dev, "event_type", "dev", {"mad": 0.5})
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med").alias("med"),
            F.any_value("mad").alias("mad"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
            F.expr(
                "sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END)"
                " * 10000 div count(1)"
            ).alias("outlier_bp"),
        )
    )


_AB_ORACLE = """
    WITH u AS (
      SELECT user_id, user_id % 2 AS variant,
             max(CASE WHEN event_type = 'purchase' AND value > 120
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ), v AS (
      SELECT variant, count(*) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted
      FROM u GROUP BY variant
    ), w AS (
      SELECT
        max(CASE WHEN variant = 0 THEN n_users END) AS n0,
        max(CASE WHEN variant = 0 THEN n_converted END) AS c0,
        max(CASE WHEN variant = 1 THEN n_users END) AS n1,
        max(CASE WHEN variant = 1 THEN n_converted END) AS c1
      FROM v
    )
    SELECT n0, c0, n1, c1,
           c0 * 10000 // n0 AS cvr0_bp,
           c1 * 10000 // n1 AS cvr1_bp,
           CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN 0.0
                ELSE (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
              - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             * (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             / ((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) END AS z2,
           CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN 0
                WHEN (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
              - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             * (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             / ((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) > 3.8415 THEN 1 ELSE 0 END AS significant
    FROM w
"""


@register("q150_ab_significance", _AB_ORACLE)
def q150_ab_significance(spark, sf_dir):
    """A/B-test readout — the two-proportion z-test every experiment
    dashboard runs: users split by a deterministic variant hash
    (user_id %% 2 — the q59 leak-free-split convention), conversion =
    any purchase above value 120 (a rate with variance at every
    shipped SF); degenerate pooled rates (0 or 1) short-circuit to
    z² = 0 — no evidence either way; the test statistic z² = (p0−p1)² / (p̄(1−p̄)
    (1/n0+1/n1)) is computed as ONE fixed-order double expression
    (identical IEEE sequence both engines, the q146 convention) with
    the χ²₁ 95%% cut at 3.8415. Two counter-width aggregations (user,
    then variant) and a 2-row pivot — nothing user-scale leaves the
    aggregation."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 120),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    diff = d("c0") / d("n0") - d("c1") / d("n1")
    pooled = (d("c0") + d("c1")) / (d("n0") + d("n1"))
    z2 = diff * diff / (
        pooled * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / d("n0") + F.lit(1.0) / d("n1"))
    )
    degenerate = (F.col("c0") + F.col("c1") == 0) | (
        F.col("c0") + F.col("c1") == F.col("n0") + F.col("n1")
    )
    return w.select(
        "n0", "c0", "n1", "c1",
        F.expr("c0 * 10000 div n0").alias("cvr0_bp"),
        F.expr("c1 * 10000 div n1").alias("cvr1_bp"),
        F.when(degenerate, F.lit(0.0)).otherwise(z2).alias("z2"),
        F.when(degenerate, 0)
        .when(z2 > 3.8415, 1)
        .otherwise(0)
        .alias("significant"),
    )


def _calibration_oracle() -> str:
    quality = f"""0.4 * least(CAST(len({_DUCK_TOKS}) AS DOUBLE) / 100.0, 1.0)
           + 0.3 * (1.0 - CASE WHEN length(text) > 0
                THEN CAST(length(text) -
                     length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
                     AS DOUBLE) / length(text) ELSE 0.0 END)
           + 0.3 * (CASE WHEN len({_DUCK_TOKS}) > 0
                THEN CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE)
                     / len({_DUCK_TOKS}) ELSE 0.0 END)"""
    return f"""
    WITH s AS (
      SELECT doc_id, source, {quality} AS quality FROM documents
    ), r AS (
      SELECT doc_id, source, quality,
             RANK() OVER (PARTITION BY source ORDER BY quality) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM s
    )
    SELECT doc_id, source, quality,
           CASE WHEN n > 1 THEN (rk - 1) * 10000 // (n - 1)
                ELSE 0 END AS pr_bp,
           CASE WHEN (CASE WHEN n > 1 THEN (rk - 1) * 10000 // (n - 1)
                      ELSE 0 END) >= 5000
                THEN 1 ELSE 0 END AS keep
    FROM r
    """


@register("q151_percentile_calibration", _calibration_oracle())
def q151_percentile_calibration(spark, sf_dir):
    """Cross-source score calibration — FineWeb's normalization
    insight: raw quality scores are not comparable across sources (a
    clean source's median outscores a crawl's p90), so thresholds
    apply to the PER-SOURCE percentile rank, not the raw score. Every
    doc gets pr_bp = ⌊(rank−1)·10⁴/(n−1)⌋ within its source (RANK
    ties = min ordinal over equal scores) and keep = top half. The
    rank comes from the distributed two-phase rank
    (operators/quantiles.py:grouped_rank — no single-task-per-source
    window): doc_id rides the range shuffle as payload, so RANK
    semantics, group sizes and the per-doc output all come out of ONE
    corpus pass — no min-per-(source, score) table joined back
    score-keyed against a second evaluation of the scored corpus."""
    from queens_spark.operators.quantiles import grouped_rank
    from queens_spark.operators.text import quality_score

    docs = load(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", "source", quality_score("text").alias("quality")
    )
    ranked = grouped_rank(s, "source", "quality", carry_cols=("doc_id",))
    pr = F.expr(
        "CASE WHEN __n > 1 THEN (__rk - 1) * 10000 div (__n - 1) "
        "ELSE 0 END"
    )
    return ranked.select(
        "doc_id",
        "source",
        F.col("__v").alias("quality"),
        pr.alias("pr_bp"),
        F.when(pr >= 5000, 1).otherwise(0).alias("keep"),
    )


_READABILITY_ORACLE = f"""
    WITH d AS (
      SELECT doc_id,
        CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_words,
        CAST(greatest(len(list_filter(
          list_transform(string_split_regex(text, '[.!?]+'),
                         x -> trim(x)), x -> x <> '')), 1)
          AS BIGINT) AS n_sentences,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(
            list_filter(string_split_regex(lower(text), '\\s+'),
                        x -> x <> ''),
            w -> CAST(greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)
                      AS BIGINT))),
          (a, b) -> a + b) AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 THEN
             206.835
             - 1.015 * (CAST(n_words AS DOUBLE)
                        / CAST(n_sentences AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE)
                       / CAST(n_words AS DOUBLE))
           ELSE 0.0 END AS flesch
    FROM d
"""


@register("q152_readability", _READABILITY_ORACLE)
def q152_readability(spark, sf_dir):
    """Flesch reading-ease screen — the classic readability signal
    (FineWeb-style edu-quality pipelines gate on it): words per
    sentence and vowel-group syllables per word, combined in FIXED
    IEEE order so any engine reproduces the score exactly
    (dictionary syllabifiers are not portable; the vowel-group
    heuristic is). Zero-shuffle linear scan
    (operators/text.py:readability_stats)."""
    from queens_spark.operators.text import readability_stats

    return load(spark, sf_dir, "documents").select(
        "doc_id", readability_stats("text").alias("r")
    ).select("doc_id", "r.n_words", "r.n_sentences", "r.n_syllables",
             "r.flesch")


_SEASONAL_ORACLE = """
    WITH e AS (
      SELECT hour(ts) AS hour,
             CAST(floor(value * 100) AS BIGINT) AS v
      FROM events
    ), s AS (
      SELECT hour, count(*) AS n_events,
             CAST(sum(v) AS BIGINT) // count(*) AS seasonal_e2
      FROM e GROUP BY hour
    ), g AS (
      SELECT CAST(sum(v) AS BIGINT) // count(*) AS mu FROM e
    ), r AS (
      SELECT e.hour, max(abs(e.v - s.seasonal_e2)) AS max_abs_residual_e2
      FROM e JOIN s ON s.hour = e.hour GROUP BY e.hour
    )
    SELECT s.hour, s.n_events, s.seasonal_e2,
           s.seasonal_e2 - g.mu AS offset_e2,
           r.max_abs_residual_e2
    FROM s JOIN r ON r.hour = s.hour, g
"""


@register("q153_seasonal_profile", _SEASONAL_ORACLE)
def q153_seasonal_profile(spark, sf_dir):
    """Additive seasonal decomposition, period = 24 h — the
    time-series prior every ops/usage dashboard extracts before
    anomaly detection: per hour-of-day the seasonal level (exact
    integer sum div count over fixed-point cents — float means are
    summation-order-dependent, integer means are not), its offset
    from the global level, and the max absolute residual once the
    seasonal component is removed. Two counter-width aggregations
    plus a broadcast seasonal join back; the events never shuffle
    twice on the same key (AQE reuses the hour exchange)."""
    from queens_spark.operators.dedup import _persist

    ev = load(spark, sf_dir, "events")
    e = _persist(
        ev.select(
            F.hour("ts").alias("hour"),
            F.floor(F.col("value") * 100).cast("bigint").alias("v"),
        )
    )
    s = e.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("sum(v) div count(1)").alias("seasonal_e2"),
    )
    g = e.agg(F.expr("sum(v) div count(1)").alias("mu"))
    r = (
        e.join(F.broadcast(s.select("hour", "seasonal_e2")), "hour")
        .groupBy("hour")
        .agg(
            F.max(F.abs(F.col("v") - F.col("seasonal_e2")))
            .alias("max_abs_residual_e2")
        )
    )
    return (
        s.join(r, "hour")
        .crossJoin(F.broadcast(g))
        .select(
            "hour", "n_events", "seasonal_e2",
            (F.col("seasonal_e2") - F.col("mu")).alias("offset_e2"),
            "max_abs_residual_e2",
        )
    )


def _triangles_oracle(threshold: float) -> str:
    pair_sql = _pairs_full_oracle(threshold)
    return f"""
    WITH pairs AS ({pair_sql}),
    copies AS ({_COPIES_SQL}),
    edges AS (
      SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
      FROM pairs
      UNION
      SELECT DISTINCT least(rep_id, doc_id), greatest(rep_id, doc_id)
      FROM copies
    ), deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT a AS n FROM edges UNION ALL SELECT b AS n FROM edges
      ) GROUP BY n
    ), tri AS (
      SELECT count(*) AS t
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ), w AS (
      SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges,
             count(*) AS n_nodes
      FROM deg
    )
    SELECT w.n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           tri.t AS n_triangles,
           CASE WHEN w.wedges = 0 THEN 0
                ELSE 3 * tri.t * 10000 // w.wedges END AS clustering_bp
    FROM tri, w
    """


@register("q154_dedup_triangles", _triangles_oracle(0.8))
def q154_dedup_triangles(spark, sf_dir):
    """Triangle count + global clustering coefficient of the dedup
    graph — the graph-analytics audit that tells template farms
    (dense, high-clustering near-dup communities) from chains of
    borderline pairs (low clustering), completing the graph tier
    beside PageRank (q101) and connected components (q36). Exact
    integers: triangles from the ordered two-hop join (a<b<c, each
    triangle counted once), wedges Σd(d−1)/2 from a counter-width
    degree aggregation, clustering = 3·T/wedges in basis points. The
    edge set is dedup-output-sized, never corpus-sized (and read from
    the STORED cluster map's edge artifact — no shingle/LSH work in
    this plan); the two-hop join shuffles on node keys only."""
    edges = _documents_clusters(spark, sf_dir).edges()
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y").join(e3, ["x", "z"], "left_semi")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    w = deg.agg(
        F.expr("CAST(sum(d * (d - 1) div 2) AS BIGINT)").alias("wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    ecnt = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        w.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(ecnt))
        .select(
            "n_nodes", "n_edges", F.col("t").alias("n_triangles"),
            F.expr(
                "CASE WHEN wedges = 0 THEN 0 "
                "ELSE 3 * t * 10000 div wedges END"
            ).alias("clustering_bp"),
        )
    )


def _label_agreement_oracle(k: int) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    cos = (
        f"CAST({duckdb_int_dot('a.q', 'b.q')} AS DOUBLE)"
        f" / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, label, {qv} AS q FROM embeddings
    ), n AS (
      SELECT vec_id, label, q, {duckdb_int_dot('q', 'q')} AS n2 FROM v
    ), cents AS (
      SELECT vec_id AS centroid_id, q AS cq, n2 AS cn2 FROM n
      WHERE vec_id % 200 = 0
    ), assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)
                   / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC,
                 c.centroid_id ASC) AS rk
        FROM n v, cents c
      ) WHERE rk = 1
    ), av AS (
      SELECT a.vec_id, a.centroid_id, n.label, n.q, n.n2
      FROM assign a JOIN n ON n.vec_id = a.vec_id
    ), topk AS (
      SELECT vec_id, neighbor_id, nlabel FROM (
        SELECT a.vec_id, b.vec_id AS neighbor_id, b.label AS nlabel,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY {cos} DESC, b.vec_id ASC) AS rank
        FROM av a JOIN av b
          ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
      ) WHERE rank <= {k}
    ), votes AS (
      SELECT vec_id, nlabel, count(*) AS c FROM topk
      GROUP BY vec_id, nlabel
    ), pred AS (
      SELECT vec_id, nlabel AS predicted FROM (
        SELECT vec_id, nlabel,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY c DESC, nlabel ASC) AS r
        FROM votes
      ) WHERE r = 1
    )
    SELECT e.label,
           count(*) AS n_vectors,
           CAST(sum(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           sum(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END)
             * 10000 // count(*) AS agree_bp
    FROM pred p JOIN embeddings e ON e.vec_id = p.vec_id
    GROUP BY e.label
    """


@register("q155_knn_label_agreement", _label_agreement_oracle(5))
def q155_knn_label_agreement(spark, sf_dir):
    """Embedding-quality probe + label-noise screen — dataset
    cartography's first report: every vector's label is predicted by
    the MAJORITY vote of its 5 within-cell nearest neighbors (ties:
    smallest label — deterministic) and compared to its true label,
    per label, in exact basis points. High agreement = the embedding
    separates the classes; a low-agreement label = noisy labels or an
    entangled class. Composes q140's kNN graph (Σ cluster² bound)
    with two counter-width vote aggregations — nothing new shuffles
    at corpus width."""
    from queens_spark.operators.dedup import _persist
    from queens_spark.operators.similarity import coarse_centroids, knn_graph
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    cents = coarse_centroids(
        emb, "embedding", "vec_id", F.col("vec_id") % 200 == 0
    )
    labels = emb.select("vec_id", "label")
    edges = knn_graph(emb, "embedding", "vec_id", k=5, centroids_df=cents)
    votes = (
        edges.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .groupBy("vec_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("c"), F.asc("nlabel")
    )
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .where("r = 1")
        .select("vec_id", F.col("nlabel").alias("predicted"))
    )
    return (
        pred.join(labels, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.when(F.col("predicted") == F.col("label"), 1).otherwise(0)
            ).cast("bigint").alias("n_agree"),
            F.expr(
                "sum(CASE WHEN predicted = label THEN 1 ELSE 0 END)"
                " * 10000 div count(1)"
            ).alias("agree_bp"),
        )
    )


def _kn_oracle(top: int) -> str:
    from queens_spark.operators.corpus import KN_SCALE

    return f"""
    WITH pos AS (
      SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      FROM (SELECT unnest({_DUCK_BIGRAMS}) AS bg FROM documents)
    ), c2 AS (
      SELECT w1, w2, count(*) AS c2 FROM pos GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1p
      FROM c2 GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS cont FROM c2 GROUP BY w2
    ), dd AS (
      SELECT count(*) AS d FROM c2
    )
    SELECT c2.w1, c2.w2, c2.c2, c1.c1, c1.n1p, cont.cont,
           (greatest(4 * c2.c2 - 3, 0) * dd.d + 3 * c1.n1p * cont.cont)
             * {KN_SCALE} // (4 * c1.c1 * dd.d) AS p_kn_e9
    FROM c2 JOIN c1 ON c1.w1 = c2.w1 JOIN cont ON cont.w2 = c2.w2, dd
    ORDER BY c2.c2 DESC, c2.w1, c2.w2 LIMIT {top}
    """


@register("q156_kneser_ney_lm", _kn_oracle(50))
def q156_kneser_ney_lm(spark, sf_dir):
    """Kneser-Ney smoothed bigram LM head — the state-of-the-art
    n-gram smoothing (Kneser & Ney 1995) in EXACT integer arithmetic:
    with discount d = 3/4, P_KN's two terms share the denominator
    4·c1·D, so the scaled probability is one bit-portable integer
    expression (floating KN is summation/rounding-dependent; this is
    not). One persisted bigram pass; c1/N1+/continuation counts are
    counter-width aggregations joined back; D rides as a driver
    scalar (the BM25-stats convention); int64 envelope guarded from
    the actual maxima before any join
    (operators/corpus.py:kneser_ney_bigram_lm)."""
    from queens_spark.operators.corpus import kneser_ney_bigram_lm

    return (
        kneser_ney_bigram_lm(
            load(spark, sf_dir, "documents"), "text", "doc_id"
        )
        .orderBy(F.desc("c2"), "w1", "w2")
        .limit(50)
    )


_CUSUM_ORACLE = """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS total_e2
      FROM events GROUP BY 1
    ), g AS (
      SELECT count(*) AS n, CAST(sum(total_e2) AS BIGINT) AS grand
      FROM d
    ), c AS (
      SELECT day, total_e2,
             SUM(n * total_e2 - grand) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cusum_n_e2
      FROM d, g
    ), m AS (
      SELECT max(abs(cusum_n_e2)) AS peak FROM c
    )
    SELECT c.day, c.total_e2, c.cusum_n_e2,
           CASE WHEN abs(c.cusum_n_e2) = m.peak THEN 1 ELSE 0 END
             AS is_changepoint
    FROM c, m
"""


@register("q157_cusum_changepoint", _CUSUM_ORACLE)
def q157_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint detection on the daily event series — the
    classic level-shift detector (Page 1954): the cumulative sum of
    deviations from the series mean peaks AT the changepoint. Exact
    integers throughout: deviations are scaled by n (n·xₜ − Σx avoids
    the fractional mean — q115's rearrangement), so cusum_n_e2 is the
    CUSUM × n in cents and the argmax is bit-portable. The cumulative
    window runs over the DAILY aggregate (bounded by the calendar,
    ≤ 10⁴ rows for decades — never the event stream); one counter
    aggregation reduces the corpus first."""
    from queens_spark.operators.dedup import _persist
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    d = _persist(
        ev.groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day")
        ).agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_e2")
        )
    )
    g = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("total_e2").cast("bigint").alias("grand"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = (
        d.crossJoin(F.broadcast(g))
        .withColumn(
            "cusum_n_e2",
            F.sum(
                F.col("n") * F.col("total_e2") - F.col("grand")
            ).over(w),
        )
    )
    m = c.agg(F.max(F.abs(F.col("cusum_n_e2"))).alias("peak"))
    return (
        c.crossJoin(F.broadcast(m))
        .select(
            "day", "total_e2", "cusum_n_e2",
            F.when(
                F.abs(F.col("cusum_n_e2")) == F.col("peak"), 1
            ).otherwise(0).alias("is_changepoint"),
        )
    )


def _mutual_knn_oracle(k: int) -> str:
    from queens_spark.operators.similarity import duckdb_int_dot, duckdb_quantize

    qv = duckdb_quantize("embedding")
    cos = (
        f"CAST({duckdb_int_dot('a.q', 'b.q')} AS DOUBLE)"
        f" / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))"
    )
    return f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, {qv} AS q FROM embeddings
    ), n AS (
      SELECT vec_id, q, {duckdb_int_dot('q', 'q')} AS n2 FROM v
    ), cents AS (
      SELECT vec_id AS centroid_id, q AS cq, n2 AS cn2 FROM n
      WHERE vec_id % 200 = 0
    ), assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY CAST({duckdb_int_dot('v.q', 'c.cq')} AS DOUBLE)
                   / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC,
                 c.centroid_id ASC) AS rk
        FROM n v, cents c
      ) WHERE rk = 1
    ), av AS (
      SELECT a.vec_id, a.centroid_id, n.q, n.n2
      FROM assign a JOIN n ON n.vec_id = a.vec_id
    ), topk AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY {cos} DESC, b.vec_id ASC) AS rank
        FROM av a JOIN av b
          ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
      ) WHERE rank <= {k}
    ), mutual AS (
      SELECT a.vec_id AS ia, a.neighbor_id AS ib
      FROM topk a JOIN topk b
        ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id
      WHERE a.vec_id < a.neighbor_id
    ), edges AS (
      SELECT ia AS src, ib AS dst FROM mutual
      UNION SELECT ib, ia FROM mutual
    ), reach(node, lab) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS vec_id, MIN(lab) AS community_id
    FROM reach GROUP BY node
    """


@register("q158_mutual_knn_communities", _mutual_knn_oracle(5))
def q158_mutual_knn_communities(spark, sf_dir):
    """Semantic communities — SemDeDup's cluster structure made
    explicit: connected components over the MUTUAL-kNN graph (an edge
    only where each vector is in the other's top-5 — the standard
    symmetrization that kills hub-induced mega-components, q142's
    pathology). Isolated vectors are their own community. Composes
    q140's graph (Σ cluster² bound) with the reciprocal semi-join and
    the adaptive CC of q36; shuffles carry (node, label) pairs
    only."""
    from queens_spark.operators.dedup import _persist, connected_components
    from queens_spark.operators.similarity import coarse_centroids, knn_graph

    emb = load(spark, sf_dir, "embeddings")
    cents = coarse_centroids(
        emb, "embedding", "vec_id", F.col("vec_id") % 200 == 0
    )
    edges = _persist(
        knn_graph(emb, "embedding", "vec_id", k=5, centroids_df=cents)
        .select("vec_id", "neighbor_id")
    )
    rev = edges.select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("vec_id").alias("neighbor_id"),
    )
    mutual = (
        edges.join(rev, ["vec_id", "neighbor_id"], "left_semi")
        .where(F.col("vec_id") < F.col("neighbor_id"))
        .select(
            F.col("vec_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
        )
    )
    return connected_components(
        emb.select("vec_id"), mutual, "vec_id"
    ).select("vec_id", F.col("component_id").alias("community_id"))


def _leakage_oracle(threshold: float) -> str:
    from queens_spark.operators.sampling import duckdb_hash_split

    pair_sql = _pairs_full_oracle(threshold)
    doc_split = duckdb_hash_split("doc_id", {"train": 9000, "test": 1000})
    comp_split = duckdb_hash_split(
        "component_id", {"train": 9000, "test": 1000}
    )
    comp = _components_oracle(threshold)
    return f"""
    WITH pairs AS ({pair_sql}),
    copies AS ({_COPIES_SQL}),
    edges AS (
      SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
      FROM pairs
      UNION
      SELECT DISTINCT least(rep_id, doc_id), greatest(rep_id, doc_id)
      FROM copies
    ), comp AS ({comp}),
    naive AS (
      SELECT doc_id, {doc_split} AS split FROM documents
    ), aware AS (
      SELECT doc_id, {comp_split} AS split FROM comp
    ), m AS (
      SELECT
        (SELECT count(*) FROM edges) AS n_pairs,
        (SELECT count(*) FROM edges e
          JOIN naive x ON x.doc_id = e.a
          JOIN naive y ON y.doc_id = e.b
          WHERE x.split <> y.split) AS naive_leaks,
        (SELECT count(*) FROM edges e
          JOIN aware x ON x.doc_id = e.a
          JOIN aware y ON y.doc_id = e.b
          WHERE x.split <> y.split) AS aware_leaks
    )
    SELECT n_pairs, naive_leaks, aware_leaks,
           CASE WHEN n_pairs = 0 THEN 0
                ELSE naive_leaks * 10000 // n_pairs END AS naive_leak_bp,
           CASE WHEN n_pairs = 0 THEN 0
                ELSE aware_leaks * 10000 // n_pairs END AS aware_leak_bp
    FROM m
    """


@register("q159_split_leakage_audit", _leakage_oracle(0.8))
def q159_split_leakage_audit(spark, sf_dir):
    """Split-leakage audit — the harness that JUSTIFIES q90 with a
    number instead of an argument: for every near-dup/exact-copy edge
    (the full-recall dedup graph), does the pair straddle train and
    test under (a) the naive per-doc hash split (q59) vs (b) the
    cluster-aware split (q90)? The cluster-aware leak count is ZERO
    BY CONSTRUCTION (both endpoints share a component, components
    hash whole); the naive count is the contamination a team ships
    without knowing. Exact integer counts + basis points; the audit
    joins split labels onto the dedup-output-sized edge list, both
    read from the STORED cluster map (store/cluster_map.py) — no
    corpus-scale work at all in this plan."""
    from queens_spark.operators.sampling import hash_split

    cm = _documents_clusters(spark, sf_dir)
    edges = cm.edges()
    comps = cm.members()
    naive = comps.select(
        "doc_id",
        hash_split("doc_id", {"train": 9000, "test": 1000}).alias("s"),
    )
    aware = comps.select(
        "doc_id",
        hash_split("component_id", {"train": 9000, "test": 1000})
        .alias("s"),
    )

    def leaks(split_df):
        xa = split_df.select(F.col("doc_id").alias("a"),
                             F.col("s").alias("sa"))
        xb = split_df.select(F.col("doc_id").alias("b"),
                             F.col("s").alias("sb"))
        return (
            edges.join(xa, "a").join(xb, "b")
            .where(F.col("sa") != F.col("sb"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    return (
        edges.agg(F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(F.broadcast(
            leaks(naive).select(F.col("c").alias("naive_leaks"))
        ))
        .crossJoin(F.broadcast(
            leaks(aware).select(F.col("c").alias("aware_leaks"))
        ))
        .select(
            "n_pairs", "naive_leaks", "aware_leaks",
            F.expr("CASE WHEN n_pairs = 0 THEN 0 "
                   "ELSE naive_leaks * 10000 div n_pairs END")
            .alias("naive_leak_bp"),
            F.expr("CASE WHEN n_pairs = 0 THEN 0 "
                   "ELSE aware_leaks * 10000 div n_pairs END")
            .alias("aware_leak_bp"),
        )
    )


_GINI_ORACLE = f"""
    WITH wc AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest({_DUCK_TOKS}) AS w FROM documents
      ) GROUP BY w
    ), r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c, w) AS rk FROM wc
    ), g AS (
      SELECT count(*) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(rk * c) AS BIGINT) AS rksum
      FROM r
    )
    SELECT n AS n_types, s AS total_tokens,
           (2 * rksum - (n + 1) * s) * 10000 // (n * s) AS gini_bp
    FROM g
"""


@register("q160_token_gini", _GINI_ORACLE)
def q160_token_gini(spark, sf_dir):
    """Vocabulary-concentration audit — the Gini coefficient of the
    token-frequency distribution (0 = uniform vocabulary, →1 = a few
    tokens dominate; natural language sits high by Zipf's law, and a
    LOW value flags word-salad/synthetic text): gini =
    (2·Σrank·cf − (n+1)·Σcf)/(n·Σcf) over frequencies sorted
    ascending. Rank TIES contribute an order-invariant sum (equal
    values times a fixed index set), so the distributed two-phase
    ordinal (operators/quantiles.py:grouped_ordinal — vocabulary can
    exceed one task) needs no deterministic tie-break for the
    AGGREGATE to be exact; counts round-trip the ordinal's double
    cast exactly below 2⁵³. One wordcount + one vocabulary-scale
    rank + a three-counter aggregation."""
    from queens_spark.operators.corpus import word_frequencies
    from queens_spark.operators.quantiles import grouped_ordinal

    vocab = word_frequencies(
        load(spark, sf_dir, "documents"), "text"
    ).select(F.lit(0).alias("g"), F.col("c"))
    ranked = grouped_ordinal(vocab, "g", "c")
    return (
        ranked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__v").cast("bigint")).alias("s"),
            F.sum(
                F.col("__rk") * F.col("__v").cast("bigint")
            ).alias("rksum"),
        )
        .select(
            F.col("n").alias("n_types"),
            F.col("s").alias("total_tokens"),
            F.expr(
                "(2 * rksum - (n + 1) * s) * 10000 div (n * s)"
            ).alias("gini_bp"),
        )
    )


_COVERAGE_CHECKPOINTS = (10, 30, 100, 300, 1000)

_VOCAB_COVERAGE_ORACLE = f"""
    WITH wc AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest({_DUCK_TOKS}) AS w FROM documents
      ) GROUP BY w
    ), r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk FROM wc
    ), t AS (
      SELECT CAST(sum(c) AS BIGINT) AS total,
             count(*) AS n_types FROM wc
    ), k AS (
      SELECT unnest({list(_COVERAGE_CHECKPOINTS)}) AS top_k
    )
    SELECT k.top_k,
           CAST(coalesce(sum(CASE WHEN r.rk <= k.top_k THEN r.c END), 0)
                AS BIGINT) AS covered_tokens,
           t.total AS total_tokens,
           coalesce(sum(CASE WHEN r.rk <= k.top_k THEN r.c END), 0)
             * 10000 // t.total AS coverage_bp
    FROM k, r, t
    GROUP BY k.top_k, t.total
"""


@register("q161_vocab_coverage", _VOCAB_COVERAGE_ORACLE)
def q161_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve — the tokenizer-design question
    ("how many types cover 95%% of tokens?"): for each checkpoint k,
    the exact share of corpus tokens covered by the k most frequent
    types. Boundary TIES are safe without a deterministic tie-break:
    tied types have EQUAL counts, so whichever of them lands inside
    the top-k, the covered-token sum is identical — the same
    order-invariance argument as q160. Ranks ride the distributed
    two-phase ordinal (descending via n − asc_rank + 1; the
    vocabulary can exceed one task); coverage is one counter
    aggregation per checkpoint over the ranked vocabulary."""
    from queens_spark.operators.corpus import word_frequencies
    from queens_spark.operators.dedup import _persist
    from queens_spark.operators.quantiles import grouped_ordinal

    vocab = word_frequencies(
        load(spark, sf_dir, "documents"), "text"
    ).select(F.lit(0).alias("g"), F.col("c"))
    ranked = _persist(grouped_ordinal(vocab, "g", "c"))
    t = ranked.agg(
        F.sum(F.col("__v").cast("bigint")).alias("total"),
        F.count(F.lit(1)).alias("n_types"),
    )
    ks = F.explode(
        F.array(*[F.lit(k) for k in _COVERAGE_CHECKPOINTS])
    ).alias("top_k")
    return (
        ranked.crossJoin(F.broadcast(t))
        .select(
            "__v", "__rk", "total", "n_types",
            ks,
        )
        .where(F.col("n_types") - F.col("__rk") + 1 <= F.col("top_k"))
        .groupBy("top_k", "total")
        .agg(
            F.sum(F.col("__v").cast("bigint")).alias("covered_tokens")
        )
        .select(
            "top_k",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.col("total").alias("total_tokens"),
            F.expr("covered_tokens * 10000 div total").alias("coverage_bp"),
        )
    )


# =====================================================================
# Training-run export tier (operators/packing.py)
# =====================================================================

def _sequence_stats_oracle(seq_len: int) -> str:
    from queens_spark.operators.packing import duckdb_sequence_stats_ctes

    return f"""
    WITH {duckdb_sequence_stats_ctes(seq_len, _DUCK_TOKS)}
    SELECT lang, seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(starts_here) AS BIGINT) AS n_starts,
           CAST(SUM(span_len) AS BIGINT) AS seq_tokens
    FROM sized
    GROUP BY lang, seq_id
    """


@register("q162_sequence_assembly", _sequence_stats_oracle(512))
def q162_sequence_assembly(spark, sf_dir):
    """Pretraining pack audit: concatenate each language's documents
    into a token stream, cut it into 512-token training sequences
    (documents spanning boundaries continue into the next sequence),
    and report per-sequence composition — docs contributing, docs
    starting, fill. The offsets ride the TWO-PHASE prefix sum
    (operators/packing.py:stream_offsets — a window partitioned by
    stratum would serialize "all of English" through one task), and a
    document explodes only to the sequences it spans, so the audit
    moves counter-width rows: no token array ever shuffles."""
    from queens_spark.operators.packing import sequence_stats

    return sequence_stats(
        load(spark, sf_dir, "documents"), "text", "doc_id", 512, "lang"
    )


def _shard_stats_oracle(seq_len: int, n_shards: int) -> str:
    from queens_spark.operators.packing import duckdb_sequence_stats_ctes

    return f"""
    WITH {duckdb_sequence_stats_ctes(seq_len, _DUCK_TOKS)},
    seqs AS (
      SELECT lang, seq_id, CAST(SUM(span_len) AS BIGINT) AS seq_tokens
      FROM sized GROUP BY lang, seq_id
    )
    SELECT CAST(seq_id % {n_shards} AS INTEGER) AS shard,
           COUNT(*) AS n_seqs,
           CAST(SUM(seq_tokens) AS BIGINT) AS n_tokens,
           COUNT(DISTINCT lang) AS n_strata
    FROM seqs GROUP BY 1
    """


@register("q163_shard_manifest", _shard_stats_oracle(512, 8))
def q163_shard_manifest(spark, sf_dir):
    """Training-shard manifest: round-robin the packed sequences onto
    8 shards (shard = seq_id mod 8 — deterministic, join-free, and
    balanced within one sequence per stratum by construction) and
    roll up the per-shard manifest counters a trainer validates
    before an epoch. Shard skew is the straggler that gates an epoch
    at 100 TB; round-robin makes it impossible rather than merely
    unlikely."""
    from queens_spark.operators.packing import (
        assign_shards,
        sequence_stats,
        shard_stats,
    )

    seqs = sequence_stats(
        load(spark, sf_dir, "documents"), "text", "doc_id", 512, "lang"
    )
    return shard_stats(assign_shards(seqs, 8), "lang")


def _training_order_oracle(seed: str, k: int) -> str:
    from queens_spark.operators.packing import duckdb_training_order

    return f"""
    SELECT doc_id,
           {duckdb_training_order(seed, 'doc_id')} AS order_hash
    FROM documents
    ORDER BY order_hash, doc_id
    LIMIT {k}
    """


@register("q164_training_order", _training_order_oracle("epoch-0", 100))
def q164_training_order(spark, sf_dir):
    """Deterministic global shuffle for a training epoch: every
    engine that hashes ``seed || ':' || doc_id`` with the shared
    portable polynomial reproduces the same permutation bit-for-bit
    (re-run = same epoch order; new seed = fresh permutation).
    Ordering by a derived hash is a SORT, not a shuffle-by-key — no
    skew — and this head-of-order probe plans as
    TakeOrderedAndProject, never a full sort materialization."""
    from queens_spark.operators.packing import training_order

    return (
        training_order(load(spark, sf_dir, "documents"), "doc_id", "epoch-0")
        .select("doc_id", "order_hash")
        .orderBy("order_hash", "doc_id")
        .limit(100)
    )


def _source_drift_oracle(width: int, n_buckets: int) -> str:
    from queens_spark.operators.drift import duckdb_group_drift_sql

    return duckdb_group_drift_sql(
        f"len({_DUCK_TOKS})", "source", width, n_buckets
    )


@register("q165_source_drift", _source_drift_oracle(50, 20))
def q165_source_drift(spark, sf_dir):
    """Per-source distribution drift — "does this source's length
    profile look like the corpus?": each source's token-count
    histogram (20 fixed-width buckets, tail absorbed) against the
    whole-corpus distribution, scored with the exact integer
    chi-square-on-ppm-shares statistic (operators/drift.py — the ppm
    normalization keeps every intermediate inside int64 at ANY corpus
    size, where raw-count chi-square overflows at ~1e10 documents).
    One histogram pass; everything after joins counters over the
    sources × buckets grid."""
    from queens_spark.operators.drift import group_drift_scores
    from queens_spark.operators.text import token_count

    return group_drift_scores(
        load(spark, sf_dir, "documents"),
        token_count("text"),
        "source",
        width=50,
        n_buckets=20,
    )


def _budget_plan_oracle(budget_denom: int) -> str:
    return f"""
    {_verdict_ctes("source,")},
    s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS src_tokens,
             CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END)
                  * 10000 // COUNT(*) AS BIGINT) AS keep_bp
      FROM v GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(src_tokens) // {budget_denom} AS BIGINT) AS budget
      FROM s
    ), r AS (
      SELECT s.*, 
             CAST(ROW_NUMBER() OVER (ORDER BY keep_bp DESC, source)
                  AS BIGINT) AS rk,
             CAST(COALESCE(SUM(src_tokens) OVER (
                    ORDER BY keep_bp DESC, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_before
      FROM s
    )
    SELECT source, n_docs, src_tokens, keep_bp, rk,
           CAST(LEAST(GREATEST(budget - cum_before, 0), src_tokens)
                AS BIGINT) AS alloc_tokens
    FROM r, tot
    """


@register("q166_token_budget_plan", _budget_plan_oracle(3))
def q166_token_budget_plan(spark, sf_dir):
    """Water-filling training-mix plan — "I can afford a third of the
    corpus's tokens: which sources fill them?": sources rank by their
    exact filter-cascade keep-rate (integer basis points, ties on the
    name) and the budget pours down the ranking, taking the best
    sources whole, splitting exactly one, zeroing the tail
    (operators/sampling.py:token_budget_plan). ONE corpus scan
    computes (tokens, verdict) per row; the ranking window's single
    task holds a source-count-sized frame — the q138 funnel shape,
    never corpus rows."""
    from queens_spark.operators.sampling import token_budget_plan

    return token_budget_plan(
        load(spark, sf_dir, "documents"), "text", "source", budget_denom=3
    )


def _documents_clusters(spark, sf_dir):
    """Stored dedup cluster map for the sf_dir's documents table —
    the dedup tier's deployment shape (store/cluster_map.py): the
    FIRST run per corpus pays the full edge-generation + CC pass and
    persists (members, canonical) as warehouse artifacts; every later
    run serves pure counter-width reads — no shingle hashing, no LSH,
    no CC in the plan. Cache key = corpus path; fingerprint = file
    stat, so regenerated testdata rebuilds instead of serving stale
    clusters (the _embeddings_index convention)."""
    import hashlib
    import os
    import tempfile

    from queens_spark.store.cluster_map import (
        build_or_load_cluster_map,
        source_fingerprint,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    key = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    map_dir = os.path.join(tempfile.gettempdir(), "queens_spark_cmap", key)
    return build_or_load_cluster_map(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        map_dir,
        fingerprint=source_fingerprint(src),
        n=3,
        threshold=0.8,
    )


def _daily_mix_drift_oracle(n_buckets: int) -> str:
    from queens_spark.operators.drift import duckdb_group_drift_from_bucket_sql
    from queens_spark.operators.text import duckdb_char_poly_hash

    return duckdb_group_drift_from_bucket_sql(
        f"CAST({duckdb_char_poly_hash('event_type')} % {n_buckets} AS BIGINT)",
        "day",
        "(SELECT strftime(ts, '%Y-%m-%d') AS day, event_type FROM events)",
    )


@register("q167_daily_mix_drift", _daily_mix_drift_oracle(32))
def q167_daily_mix_drift(spark, sf_dir):
    """Time-windowed CATEGORICAL drift — "did yesterday's event mix
    look like the norm?": each day's event-type composition scored
    against the all-time mix with the same exact ppm chi-square
    (operators/drift.py), the category hashed into a bounded bucket
    domain with the portable polynomial (works for any cardinality —
    the bucket table stays 32 counters). Days with a shifted mix
    (incident, bot wave, instrumentation change) surface as outlier
    scores. One linear scan; days × 32 counters after."""
    from queens_spark.operators.drift import group_drift_from_buckets
    from queens_spark.operators.text import char_poly_hash

    ev = load(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("event_type"),
    )
    return group_drift_from_buckets(
        ev, char_poly_hash(F.col("event_type")) % F.lit(32), "day"
    )


_LINE_DEDUP_ORACLE = """
    WITH raw AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)), x -> x <> '') AS ls
      FROM documents
    ), l AS (
      SELECT doc_id, unnest(range(1, len(ls)+1)) AS pos, ls FROM raw
    ), le AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, ls[pos] AS line FROM l
    ), firsts AS (
      SELECT line, MIN(doc_id * 1048576 + pos) AS fkey
      FROM le GROUP BY line
    ), fl AS (
      SELECT le.doc_id,
             CASE WHEN le.doc_id * 1048576 + le.pos = f.fkey
                  THEN 0 ELSE 1 END AS dropped
      FROM le JOIN firsts f ON le.line = f.line
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(dropped) AS BIGINT) AS n_dropped,
           CAST(SUM(dropped) * 10000 // COUNT(*) AS BIGINT) AS dropped_bp
    FROM fl GROUP BY doc_id
"""


@register("q168_line_dedup", _LINE_DEDUP_ORACLE)
def q168_line_dedup(spark, sf_dir):
    """Global line-level dedup audit — the C4/Dolma boilerplate pass
    document dedup misses (nav bars, cookie banners, license headers
    repeating across otherwise-unique docs): every non-empty trimmed
    line keeps its FIRST corpus occurrence by (doc, position); per
    document, the line mass the pass would drop in exact basis
    points. First-occurrence resolution is a partial-aggregable MIN
    per line, so map-side combine collapses hot boilerplate lines
    BEFORE the shuffle — a per-line window would funnel every
    occurrence of a hot line through one task
    (operators/dedup.py:line_dedup_stats)."""
    from queens_spark.operators.dedup import line_dedup_stats

    return line_dedup_stats(load(spark, sf_dir, "documents"), "text", "doc_id")


_LINE_REWRITE_ORACLE = """
    WITH raw AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)), x -> x <> '') AS ls
      FROM documents
    ), l AS (
      SELECT doc_id, unnest(range(1, len(ls)+1)) AS pos, ls FROM raw
    ), le AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, ls[pos] AS line FROM l
    ), firsts AS (
      SELECT line, MIN(doc_id * 1048576 + pos) AS fkey
      FROM le GROUP BY line
    ), kept AS (
      SELECT le.doc_id, le.pos, le.line
      FROM le JOIN firsts f ON le.line = f.line
      WHERE le.doc_id * 1048576 + le.pos = f.fkey
    )
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY pos) AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY doc_id
"""


@register("q169_line_dedup_rewrite", _LINE_REWRITE_ORACLE)
def q169_line_dedup_rewrite(spark, sf_dir):
    """The boilerplate-removal TRANSFORM (q168's audit executed):
    rebuild every document keeping only lines that are first corpus
    occurrences, original line order preserved; documents that were
    pure boilerplate vanish. Same partial-aggregable min-per-line
    resolution as q168; the re-assembly shuffle carries kept lines
    only — the output volume (operators/dedup.py:dedup_lines_rewrite).
    """
    from queens_spark.operators.dedup import dedup_lines_rewrite

    return dedup_lines_rewrite(
        load(spark, sf_dir, "documents"), "text", "doc_id"
    )


def _budget_sample_oracle(budget_denom: int) -> str:
    from queens_spark.operators.sampling import duckdb_hash_bucket

    plan = _budget_plan_oracle(budget_denom)
    return f"""
    WITH plan AS ({plan}),
    rates AS (
      SELECT source,
             CAST(CASE WHEN src_tokens = 0 THEN 0 ELSE
                  LEAST(alloc_tokens * 10000 // src_tokens, 10000) END
                  AS BIGINT) AS rate_bp
      FROM plan
    ),
    kept AS (
      SELECT d.doc_id, d.source,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE {duckdb_hash_bucket('d.doc_id')} < r.rate_bp
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source
    """


@register("q170_budget_sampled_corpus", _budget_sample_oracle(3))
def q170_budget_sampled_corpus(spark, sf_dir):
    """The water-filling plan EXECUTED (q166 → an actual corpus):
    each source's allocation becomes a deterministic per-id hash
    sampling rate in basis points (whole sources at 10000, the split
    source at its exact fraction, the tail at 0), and the kept set is
    stable across reruns, retries, and engines — the q59 hash-split
    determinism contract applied to mixture execution. The rate table
    is source-count-sized and broadcast; the corpus reads once and
    never shuffles before the final per-source counter rollup
    (operators/sampling.py:budget_sample)."""
    from queens_spark.operators.sampling import budget_sample
    from queens_spark.operators.text import token_count

    kept = budget_sample(
        load(spark, sf_dir, "documents"), "text", "source", "doc_id",
        budget_denom=3,
    )
    return kept.select(
        "source", token_count("text").alias("n_tokens")
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
        F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
    )


def _pack_fragmentation_oracle(seq_len: int) -> str:
    from queens_spark.operators.packing import duckdb_sequence_stats_ctes

    return f"""
    WITH {duckdb_sequence_stats_ctes(seq_len, _DUCK_TOKS)},
    per_doc AS (
      SELECT lang, doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
      FROM sized GROUP BY lang, doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_spans > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_frag_docs,
           CAST(SUM(CASE WHEN n_spans > 1 THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS frag_bp,
           CAST(SUM(n_spans) AS BIGINT) AS n_spans
    FROM per_doc GROUP BY lang
    """


@register("q171_pack_fragmentation", _pack_fragmentation_oracle(512))
def q171_pack_fragmentation(spark, sf_dir):
    """Pack-quality audit — "how chopped are my documents at this
    seq_len?": per stratum, the exact share of documents that cross a
    sequence boundary (their attention context truncates there) and
    the total span count. The trainer-facing counterpart of q162's
    per-sequence view; a high frag_bp argues for a longer seq_len or
    a document-aware packer. Same counter-width span frame as
    q162/q163 — no token arrays move."""
    from queens_spark.operators.packing import sequence_spans, stream_offsets
    from queens_spark.operators.text import token_count

    base = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )
    spans = sequence_spans(
        stream_offsets(base, "n_tokens", "lang", "doc_id"), 512
    )
    per_doc = spans.groupBy("lang", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans")
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("n_spans") > 1).cast("int")).cast("bigint").alias(
            "n_frag_docs"
        ),
        F.expr(
            "CAST(sum(CASE WHEN n_spans > 1 THEN 1 ELSE 0 END) * 10000 "
            "div count(1) AS BIGINT)"
        ).alias("frag_bp"),
        F.sum("n_spans").cast("bigint").alias("n_spans"),
    )


def _source_overlap_oracle(threshold: float) -> str:
    pair_sql = _pairs_full_oracle(threshold)
    return f"""
    WITH pairs AS ({pair_sql}),
    copies AS ({_COPIES_SQL}),
    e AS (
      SELECT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b FROM pairs
      UNION
      SELECT LEAST(rep_id, doc_id) AS a, GREATEST(rep_id, doc_id) AS b
      FROM copies
    ),
    lab AS (
      SELECT e.a, e.b, da.source AS src_raw_a, db.source AS src_raw_b
      FROM e JOIN documents da ON e.a = da.doc_id
             JOIN documents db ON e.b = db.doc_id
    )
    SELECT LEAST(src_raw_a, src_raw_b) AS source_a,
           GREATEST(src_raw_a, src_raw_b) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM lab GROUP BY 1, 2
    """


@register("q172_source_overlap_matrix", _source_overlap_oracle(0.8))
def q172_source_overlap_matrix(spark, sf_dir):
    """Cross-source duplication matrix — "who copies whom": every
    stored dedup edge labeled with its endpoints' sources (order-
    normalized so the matrix is upper-triangular incl. the diagonal),
    counted per source pair. Off-diagonal mass = syndication/mirroring
    between sources; diagonal = within-source duplication. The edge
    list reads from the STORED cluster map; the only corpus touch is
    the two id→source lookups, which join on edge endpoints — a
    dedup-output-sized key set, never an all-pairs join."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    edges = _documents_clusters(spark, sf_dir).edges()
    lab = (
        edges.join(
            docs.select(
                F.col("doc_id").alias("a"), F.col("source").alias("sa")
            ),
            "a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("b"), F.col("source").alias("sb")
            ),
            "b",
        )
    )
    return (
        lab.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )


# ------------------------------------------------ embedding probes

_PROBE_SPLITS = {"test": 2000, "train": 8000}


def _probe_split_sql() -> str:
    from queens_spark.operators.sampling import duckdb_hash_split

    return duckdb_hash_split("vec_id", _PROBE_SPLITS)


def _centroid_confusion_ctes() -> str:
    """Shared oracle WITH-body (q173/q186/q187): centroids trained on
    the hash split, per-test-vector candidate distances ``d(vec_id,
    true_label, cand, d2)``, and the argmin pick ``pick(...)``."""
    from queens_spark.operators.similarity import duckdb_quantize

    return f"""s AS (
      SELECT vec_id, label, {duckdb_quantize('embedding')} AS qv,
             {_probe_split_sql()} AS split
      FROM embeddings
    ), tr AS (
      SELECT label, i AS dim, qv[i] AS v
      FROM s, unnest(range(1, len(qv) + 1)) AS u(i)
      WHERE split = 'train'
    ), ce AS (
      SELECT label, dim,
             CAST(SUM(v) AS BIGINT) * 1000 // COUNT(*) AS c_e6
      FROM tr GROUP BY label, dim
    ), te AS (
      SELECT vec_id, label AS true_label, i AS dim, qv[i] * 1000 AS x_e6
      FROM s, unnest(range(1, len(qv) + 1)) AS u(i)
      WHERE split = 'test'
    ), d AS (
      SELECT te.vec_id, te.true_label, ce.label AS cand,
             SUM((te.x_e6 - ce.c_e6) * (te.x_e6 - ce.c_e6)) AS d2
      FROM te JOIN ce ON te.dim = ce.dim
      GROUP BY te.vec_id, te.true_label, ce.label
    ), pick AS (
      SELECT vec_id, true_label, cand,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY d2, cand
             ) AS rk
      FROM d
    )"""


def _centroid_classifier_oracle() -> str:
    return f"""
    WITH {_centroid_confusion_ctes()}
    SELECT true_label, CAST(cand AS INT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pick WHERE rk = 1 GROUP BY true_label, cand
    """


@register("q173_centroid_classifier", _centroid_classifier_oracle())
def q173_centroid_classifier(spark, sf_dir):
    """Nearest-centroid linear probe — the standard cheap answer to
    "are these embeddings any good?": train exact per-class centroids
    on the 80% hash split, classify the held-out 20% by nearest
    centroid (ties to the smaller label), report the confusion
    matrix. Training is ONE counter-width shuffle (labels × dims
    sums, map-side partials); the trained model (10×64 e6 integers, a
    few KB) constant-folds into a HOF literal so scoring is MAP-ONLY
    — no join, no second shuffle, the same small-model-as-literal
    shape as the PQ codebook (q97/q98). At 100 TB: the model is
    corpus-independent in size, so the test pass is embarrassingly
    parallel and the confusion aggregation shuffles ≤ classes² counter
    rows."""
    from queens_spark.operators.probe import (
        classify_by_centroids,
        collect_centroids,
        label_centroids_e6,
    )
    from queens_spark.operators.sampling import hash_split

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "split", hash_split("vec_id", _PROBE_SPLITS)
    )
    model = collect_centroids(
        label_centroids_e6(
            emb.where(F.col("split") == "train"), "embedding", "label"
        )
    )
    return (
        emb.where(F.col("split") == "test")
        .select(
            F.col("label").alias("true_label"),
            classify_by_centroids("embedding", model).alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


_PROBE_POS_LABEL = 3


def _probe_score_ctes() -> str:
    """Shared oracle CTE chain ending in ``sc(vec_id, pos, score)`` —
    the Fisher-probe scored test split (q174/q181/q182/q183)."""
    from queens_spark.operators.similarity import duckdb_quantize

    return f"""s AS (
      SELECT vec_id,
             CASE WHEN label = {_PROBE_POS_LABEL} THEN 1 ELSE 0 END AS pos,
             {duckdb_quantize('embedding')} AS qv,
             {_probe_split_sql()} AS split
      FROM embeddings
    ), tr AS (
      SELECT pos, i AS dim, qv[i] AS v
      FROM s, unnest(range(1, len(qv) + 1)) AS u(i)
      WHERE split = 'train'
    ), ce AS (
      SELECT pos, dim,
             CAST(SUM(v) AS BIGINT) * 1000 // COUNT(*) AS c_e6
      FROM tr GROUP BY pos, dim
    ), w AS (
      SELECT p.dim, p.c_e6 - n.c_e6 AS w_e6
      FROM ce p JOIN ce n ON p.dim = n.dim AND p.pos = 1 AND n.pos = 0
    ), te AS (
      SELECT vec_id, pos, i AS dim, qv[i] AS v
      FROM s, unnest(range(1, len(qv) + 1)) AS u(i)
      WHERE split = 'test'
    ), sc AS (
      SELECT te.vec_id, te.pos,
             CAST(SUM(te.v * w.w_e6) AS BIGINT) AS score
      FROM te JOIN w ON te.dim = w.dim
      GROUP BY te.vec_id, te.pos
    )"""


def _probe_auc_oracle() -> str:
    return f"""
    WITH {_probe_score_ctes()}, g AS (
      SELECT score, COUNT(*) AS c, SUM(pos) AS cp FROM sc GROUP BY score
    ), r AS (
      SELECT score, c, cp,
             COALESCE(SUM(c) OVER (
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS bef
      FROM g
    ), a AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS n_pos,
             CAST(SUM(c - cp) AS BIGINT) AS n_neg,
             CAST(SUM(cp * (2 * bef + c + 1)) AS BIGINT) AS two_rsum
      FROM r
    )
    SELECT n_pos, n_neg,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE (two_rsum - n_pos * (n_pos + 1)) * 10000
                     // (2 * n_pos * n_neg) END AS BIGINT) AS auc_bp
    FROM a
    """


@register("q174_probe_auc", _probe_auc_oracle())
def q174_probe_auc(spark, sf_dir):
    """Fisher-direction probe + exact AUC — the one-pass closed-form
    linear probe (w = centroid⁺ − centroid⁻ over the train split, no
    iterations) evaluated the way classifier quality is actually
    reported: tie-corrected Mann-Whitney AUC on the held-out split,
    in exact integer basis points. The direction (64 e6 integers)
    constant-folds into the scoring expression, so the test pass is
    map-only; ranks ride the two-phase distributed ordinal (never a
    single-task global window), ties contribute their exact average
    rank via per-score-group counts. At 100 TB: one counter-width
    training shuffle + one rank shuffle over scores — no vectors move
    past the scoring map. The scored split comes from the SAME
    helper as q181/q182/q183, so the whole evaluation suite grades
    one protocol."""
    from queens_spark.operators.probe import binary_auc_bp

    return binary_auc_bp(
        _probe_scored_test(spark, sf_dir), "score", "pos"
    )


def _silhouette_oracle() -> str:
    from queens_spark.operators.similarity import duckdb_quantize

    return f"""
    WITH s AS (
      SELECT vec_id, label, {duckdb_quantize('embedding')} AS qv
      FROM embeddings
    ), d AS (
      SELECT label, i AS dim, qv[i] AS v
      FROM s, unnest(range(1, len(qv) + 1)) AS u(i)
    ), ce AS (
      SELECT label, dim,
             CAST(SUM(v) AS BIGINT) * 1000 // COUNT(*) AS c_e6
      FROM d GROUP BY label, dim
    ), te AS (
      SELECT vec_id, label AS own, i AS dim, qv[i] * 1000 AS x_e6
      FROM s, unnest(range(1, len(qv) + 1)) AS u(i)
    ), dist AS (
      SELECT te.vec_id, te.own, ce.label AS cand,
             CAST(SUM((te.x_e6 - ce.c_e6) * (te.x_e6 - ce.c_e6))
                  AS BIGINT) AS d2
      FROM te JOIN ce ON te.dim = ce.dim
      GROUP BY te.vec_id, te.own, ce.label
    ), ab AS (
      SELECT vec_id, own,
             MIN(CASE WHEN cand = own THEN d2 END) AS a2,
             MIN(CASE WHEN cand <> own THEN d2 END) AS b2
      FROM dist GROUP BY vec_id, own
    ), sil AS (
      SELECT own AS label,
             (b2 - a2) * 10000 // GREATEST(a2, b2, 1) AS s_bp
      FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(s_bp) AS BIGINT) // COUNT(*) AS BIGINT)
             AS mean_s_bp,
           CAST(SUM(CASE WHEN s_bp < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_noise
    FROM sil GROUP BY label
    """


@register("q175_silhouette", _silhouette_oracle())
def q175_silhouette(spark, sf_dir):
    """Simplified (centroid, squared-distance) silhouette per class —
    the clustering-quality / label-noise audit: a² = squared distance
    to the OWN class centroid, b² = minimum over the other classes,
    s = (b² − a²)·10⁴ div max(a², b², 1). Negative s ⇒ the point sits
    closer to another class's prototype — a label-noise candidate
    (n_noise counts them per class). The classic silhouette is
    all-pairs O(n²) and impossible at corpus scale; the centroid
    variant is the standard substitute and keeps the sign semantics.
    One counter-width centroid shuffle, then a MAP-ONLY scoring pass
    (constant-folded centroids) and a classes-sized aggregation —
    no distance matrix ever materializes."""
    from queens_spark.operators.probe import (
        collect_centroids,
        label_centroids_e6,
        silhouette_components,
    )

    emb = load(spark, sf_dir, "embeddings")
    model = collect_centroids(
        label_centroids_e6(emb, "embedding", "label")
    )
    a2, b2 = silhouette_components("embedding", "label", model)
    scored = emb.select(
        "label", a2.alias("a2"), b2.alias("b2")
    ).select(
        "label",
        F.expr("(b2 - a2) * 10000 div greatest(a2, b2, 1)").alias("s_bp"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(sum(s_bp) div count(1) AS BIGINT)").alias("mean_s_bp"),
        F.sum((F.col("s_bp") < 0).cast("int")).cast("bigint").alias("n_noise"),
    )


# ------------------------------------------------ KMV sketch tier

_KMV_K = 64


def _kmv_sketch_ctes() -> str:
    """Shared oracle WITH-body (q176/q190): per-source shingle-hash
    distinct frame ``d(source, v)`` and bottom-k aggregate
    ``agg(source, sn, vk)`` — the single definition both estimator
    oracles grade against."""
    from queens_spark.operators.dedup import duckdb_shingle_hashes
    from queens_spark.operators.kmv import duckdb_kmv_hash_ctes

    k = _KMV_K
    return f"""sset AS (
      SELECT source, unnest({duckdb_shingle_hashes('text')}) AS sh
      FROM documents
    ), {duckdb_kmv_hash_ctes('sset', 'sh', 'source')},
    d AS (
      SELECT DISTINCT source, v FROM kv
    ), r AS (
      SELECT source, v,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rk
      FROM d
    ), agg AS (
      SELECT source, COUNT(*) AS sn, MAX(v) AS vk
      FROM r WHERE rk <= {k} GROUP BY source
    )"""


def _kmv_distinct_oracle() -> str:
    from queens_spark.operators.kmv import KMV_RANGE

    k = _KMV_K
    return f"""
    WITH {_kmv_sketch_ctes()}, est AS (
      SELECT source, CAST(sn AS BIGINT) AS sketch_n,
             CAST(CASE WHEN sn < {k} THEN sn
                  ELSE {k - 1} * CAST({KMV_RANGE} AS BIGINT) // vk
                  END AS BIGINT) AS est_distinct
      FROM agg
    ), ex AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
      FROM d GROUP BY source
    )
    SELECT est.source, sketch_n, est_distinct, exact_distinct,
           CAST(abs(est_distinct - exact_distinct) * 10000
                // exact_distinct AS BIGINT) AS err_bp
    FROM est JOIN ex ON est.source = ex.source
    """


@register("q176_kmv_distinct", _kmv_distinct_oracle())
def q176_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct sketch, graded against truth:
    per source, the 64-value bottom-k sketch of its 3-gram shingle-hash
    set, the KMV estimate (k−1)·R div v_k, the exact hashed-distinct
    count, and the realized error in basis points. The sketch is the
    100 TB path for per-source distinct accounting: one corpus pass
    builds EVERY source's sketch (distinct + two-phase ordinal — no
    single-task windows), after which any union/intersection question
    is k-row arithmetic (q177). Sub-k sources are exact by
    construction. All estimator arithmetic is integer and
    engine-portable — the oracle reproduces the ESTIMATE bit-for-bit,
    not just the truth."""
    from queens_spark.operators.dedup import _persist, shingle_hashes
    from queens_spark.operators.kmv import (
        kmv_distinct_estimates,
        kmv_hash,
        kmv_sketches_from_hashes,
    )

    sh = load(spark, sf_dir, "documents").select(
        "source", F.explode(shingle_hashes("text")).alias("sh")
    )
    # shingle+hash+distinct ONCE for sketch AND exact twin — the
    # shingle pass is the corpus-scale cost; three consumers would
    # re-pay it (neutral at sf0.1, dominant at 100 TB). Distinct the
    # raw shingles first, hash per distinct value after (hash set
    # bit-identical via the counter-width re-distinct — the q178
    # lesson; boilerplate-heavy corpora repeat shingles a lot)
    hd = _persist(
        sh.distinct()
        .select("source", kmv_hash("sh").alias("h"))
        .distinct()
    )
    sk = kmv_sketches_from_hashes(hd, "source", "h", _KMV_K)
    est = kmv_distinct_estimates(sk, "source", _KMV_K)
    exact = hd.groupBy("source").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    return est.join(exact, "source").select(
        "source",
        "sketch_n",
        "est_distinct",
        "exact_distinct",
        F.expr(
            "CAST(abs(est_distinct - exact_distinct) * 10000 "
            "div exact_distinct AS BIGINT)"
        ).alias("err_bp"),
    )


def _kmv_overlap_ctes() -> str:
    """Shared oracle WITH-body (q177/q185): per-source shingle KMV
    sketches, pairwise merge, and the estimator CTE ``estp(ga, gb,
    union_est, inter_est)``; ``d(source, v)`` holds the hashed
    distinct truth for exact twins."""
    from queens_spark.operators.dedup import duckdb_shingle_hashes
    from queens_spark.operators.kmv import KMV_RANGE, duckdb_kmv_hash_ctes

    k = _KMV_K
    return f"""sset AS (
      SELECT source, unnest({duckdb_shingle_hashes('text')}) AS sh
      FROM documents
    ), {duckdb_kmv_hash_ctes('sset', 'sh', 'source')},
    d AS (
      SELECT DISTINCT source, v FROM kv
    ), r AS (
      SELECT source, v,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rk
      FROM d
    ), sk AS (
      SELECT source, v FROM r WHERE rk <= {k}
    ), pr AS (
      SELECT a.source AS ga, b.source AS gb
      FROM (SELECT DISTINCT source FROM sk) a
      JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source
    ), mg AS (
      SELECT DISTINCT pr.ga, pr.gb, s.v
      FROM pr JOIN sk s ON s.source = pr.ga OR s.source = pr.gb
    ), mr AS (
      SELECT ga, gb, v,
             ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY v) AS rk
      FROM mg
    ), tk AS (
      SELECT mr.ga, mr.gb, mr.v,
             CASE WHEN sa.v IS NOT NULL AND sb.v IS NOT NULL
                  THEN 1 ELSE 0 END AS in_both
      FROM mr
      LEFT JOIN sk sa ON sa.source = mr.ga AND sa.v = mr.v
      LEFT JOIN sk sb ON sb.source = mr.gb AND sb.v = mr.v
      WHERE mr.rk <= {k}
    ), pp AS (
      SELECT ga, gb, COUNT(*) AS m, MAX(v) AS vk,
             CAST(SUM(in_both) AS BIGINT) AS nc
      FROM tk GROUP BY ga, gb
    ), estp AS (
      SELECT ga, gb,
             CAST(CASE WHEN m < {k} THEN m
                  ELSE {k - 1} * CAST({KMV_RANGE} AS BIGINT) // vk
                  END AS BIGINT) AS union_est,
             CAST(CASE WHEN m < {k} THEN nc
                  ELSE nc * ({k - 1} * CAST({KMV_RANGE} AS BIGINT) // vk)
                       // {k} END AS BIGINT) AS inter_est
      FROM pp
    )"""


def _kmv_overlap_oracle() -> str:
    return f"""
    WITH {_kmv_overlap_ctes()}, sz AS (
      SELECT source, COUNT(*) AS n FROM d GROUP BY source
    ), ix AS (
      SELECT da.source AS ga, db.source AS gb,
             CAST(COUNT(*) AS BIGINT) AS exact_inter
      FROM d da JOIN d db ON da.v = db.v AND da.source < db.source
      GROUP BY da.source, db.source
    )
    SELECT e.ga AS source_a, e.gb AS source_b, e.union_est, e.inter_est,
           CAST(za.n + zb.n - COALESCE(ix.exact_inter, 0) AS BIGINT)
             AS exact_union,
           COALESCE(ix.exact_inter, 0) AS exact_inter
    FROM estp e
    JOIN sz za ON za.source = e.ga
    JOIN sz zb ON zb.source = e.gb
    LEFT JOIN ix ON ix.ga = e.ga AND ix.gb = e.gb
    """


@register("q177_kmv_overlap", _kmv_overlap_oracle())
def q177_kmv_overlap(spark, sf_dir):
    """Cross-source overlap from sketches alone — the 100 TB path for
    q172's duplication matrix: every unordered source pair's distinct
    shingle-set union and intersection, estimated from the per-source
    64-value KMV sketches (merge = k smallest of the sketch union,
    exact by the KMV closure property; intersection via the Beyer
    ratio estimator), next to the exact hashed-distinct truth. After
    the one corpus pass that builds the sketches, all 190 pairs cost
    k-row arithmetic — the per-pair window partitions by pair, so
    sources² parallelizes instead of rescanning the corpus per pair.
    Sub-k merges are exact by construction (the estimator CASE
    switches to the complete-sketch count)."""
    from queens_spark.operators.dedup import _persist, shingle_hashes
    from queens_spark.operators.kmv import (
        kmv_hash,
        kmv_pair_overlap,
        kmv_sketches_from_hashes,
    )

    sh = load(spark, sf_dir, "documents").select(
        "source", F.explode(shingle_hashes("text")).alias("sh")
    )
    # shingle+hash+distinct ONCE for sketch AND exact twins — same
    # single-corpus-pass (and hash-after-distinct) argument as q176
    hd = _persist(
        sh.distinct()
        .select("source", kmv_hash("sh").alias("h"))
        .distinct()
    )
    sk = kmv_sketches_from_hashes(hd, "source", "h", _KMV_K)
    ov = kmv_pair_overlap(sk, "source", _KMV_K)
    sizes = hd.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        hd.select(F.col("source").alias("ga"), "h")
        .join(hd.select(F.col("source").alias("gb"), "h"), "h")
        .where(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return (
        ov.withColumnRenamed("group_a", "ga")
        .withColumnRenamed("group_b", "gb")
        .join(sizes.select(F.col("source").alias("ga"),
                           F.col("n").alias("na")), "ga")
        .join(sizes.select(F.col("source").alias("gb"),
                           F.col("n").alias("nb")), "gb")
        .join(inter, ["ga", "gb"], "left")
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            "union_est",
            "inter_est",
            (
                F.col("na") + F.col("nb")
                - F.coalesce(F.col("exact_inter"), F.lit(0))
            ).cast("bigint").alias("exact_union"),
            F.coalesce(F.col("exact_inter"), F.lit(0))
            .cast("bigint")
            .alias("exact_inter"),
        )
    )


_DISCOVERY_COLS = [
    ("c_custkey", "customer"),
    ("c_nationkey", "customer"),
    ("o_custkey", "orders"),
    ("o_orderkey", "orders"),
    ("l_orderkey", "lineitem"),
    ("l_partkey", "lineitem"),
    ("l_suppkey", "lineitem"),
    ("p_partkey", "part"),
    ("s_suppkey", "supplier"),
    ("n_nationkey", "nation"),
]


def _join_discovery_oracle() -> str:
    from queens_spark.operators.kmv import KMV_RANGE, duckdb_kmv_hash_ctes

    k = _KMV_K
    tall = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS colid, CAST({c} AS BIGINT) AS value "
        f"FROM {t} WHERE {c} IS NOT NULL"
        for c, t in _DISCOVERY_COLS
    )
    return f"""
    WITH allv AS (
      {tall}
    ), {duckdb_kmv_hash_ctes('allv', 'value', 'colid')},
    d AS (
      SELECT DISTINCT colid, v FROM kv
    ), sz AS (
      SELECT colid, COUNT(*) AS n FROM d GROUP BY colid
    ), ix AS (
      SELECT a.colid AS ca, b.colid AS cb,
             CAST(COUNT(*) AS BIGINT) AS exact_inter
      FROM d a JOIN d b ON a.v = b.v AND a.colid <> b.colid
      GROUP BY a.colid, b.colid
    ), r AS (
      SELECT colid, v,
             ROW_NUMBER() OVER (PARTITION BY colid ORDER BY v) AS rk
      FROM d
    ), sk AS (
      SELECT colid, v FROM r WHERE rk <= {k}
    ), ea AS (
      SELECT colid, COUNT(*) AS sn, MAX(v) AS vk FROM sk GROUP BY colid
    ), es AS (
      SELECT colid,
             CAST(CASE WHEN sn < {k} THEN sn
                  ELSE {k - 1} * CAST({KMV_RANGE} AS BIGINT) // vk
                  END AS BIGINT) AS est_n
      FROM ea
    ), pr AS (
      SELECT a.colid AS ga, b.colid AS gb
      FROM (SELECT DISTINCT colid FROM sk) a
      JOIN (SELECT DISTINCT colid FROM sk) b ON a.colid < b.colid
    ), mg AS (
      SELECT DISTINCT pr.ga, pr.gb, s.v
      FROM pr JOIN sk s ON s.colid = pr.ga OR s.colid = pr.gb
    ), mr AS (
      SELECT ga, gb, v,
             ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY v) AS rk
      FROM mg
    ), tk AS (
      SELECT mr.ga, mr.gb, mr.v,
             CASE WHEN sa.v IS NOT NULL AND sb.v IS NOT NULL
                  THEN 1 ELSE 0 END AS in_both
      FROM mr
      LEFT JOIN sk sa ON sa.colid = mr.ga AND sa.v = mr.v
      LEFT JOIN sk sb ON sb.colid = mr.gb AND sb.v = mr.v
      WHERE mr.rk <= {k}
    ), pp AS (
      SELECT ga, gb, COUNT(*) AS m, MAX(v) AS vk,
             CAST(SUM(in_both) AS BIGINT) AS nc
      FROM tk GROUP BY ga, gb
    ), estp AS (
      SELECT ga, gb,
             CAST(CASE WHEN m < {k} THEN nc
                  ELSE nc * ({k - 1} * CAST({KMV_RANGE} AS BIGINT) // vk)
                       // {k} END AS BIGINT) AS inter_est
      FROM pp
    ), de AS (
      SELECT ga AS ca, gb AS cb, inter_est FROM estp
      UNION ALL
      SELECT gb AS ca, ga AS cb, inter_est FROM estp
    ), pairs AS (
      SELECT a.colid AS ca, b.colid AS cb
      FROM (SELECT colid FROM sz) a
      JOIN (SELECT colid FROM sz) b ON a.colid <> b.colid
    )
    SELECT pairs.ca AS col_a, pairs.cb AS col_b,
           CAST(sz.n AS BIGINT) AS exact_a,
           COALESCE(ix.exact_inter, 0) AS exact_inter,
           CAST(COALESCE(ix.exact_inter, 0) * 10000 // sz.n AS BIGINT)
             AS contain_bp,
           CAST(CASE WHEN es.est_n = 0 THEN 0
                ELSE COALESCE(de.inter_est, 0) * 10000 // es.est_n
                END AS BIGINT) AS est_contain_bp
    FROM pairs
    JOIN sz ON sz.colid = pairs.ca
    JOIN es ON es.colid = pairs.ca
    LEFT JOIN ix ON ix.ca = pairs.ca AND ix.cb = pairs.cb
    LEFT JOIN de ON de.ca = pairs.ca AND de.cb = pairs.cb
    """


@register("q178_join_discovery", _join_discovery_oracle())
def q178_join_discovery(spark, sf_dir):
    """Join-key discovery — the data-catalog sweep "which columns can
    join?": ten candidate key columns across six tables stacked into
    one (colid, value) frame with ONE scan per table (a table's
    candidate columns leave its scan as an exploded array — lineitem
    is read once for its three keys, not three times); every
    DIRECTED pair reports exact set
    containment |A∩B|·10⁴ div |A| (10000 bp ⇒ A ⊆ B, a foreign-key
    candidate: l_orderkey→o_orderkey, l_partkey→p_partkey,
    c_nationkey→n_nationkey...) AND the KMV-sketch estimate of the
    same. The exact path computes all 90 intersections in ONE
    self-join on the hashed distinct frame — never a join per pair;
    the sketch path is the 100 TB answer: one pass builds every
    column's 64-row sketch, the matrix is then sketch arithmetic, and
    profiling a new table never rescans the old ones. Surrogate-key
    ranges overlapping by VALUE (dense 1..N ids) shows up honestly as
    nonzero containment without FK semantics — the known trap of
    value-based discovery, visible in the result."""
    from queens_spark.operators.discovery import (
        joinability_matrix,
        tall_column_values_grouped,
    )

    by_table: dict[str, dict[str, str]] = {}
    for c, t in _DISCOVERY_COLS:
        by_table.setdefault(t, {})[c] = c
    tables = [
        (load(spark, sf_dir, t), colmap)
        for t, colmap in sorted(by_table.items())
    ]
    return joinability_matrix(tall_column_values_grouped(tables), _KMV_K)


def _pareto_oracle() -> str:
    return f"""
    WITH b AS (
      SELECT doc_id,
             CAST(floor({_DUCK_QUALITY} * 10000) AS BIGINT) AS quality_bp,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, quality_bp, n_tokens
    FROM b p
    WHERE NOT EXISTS (
      SELECT 1 FROM b o
      WHERE o.quality_bp >= p.quality_bp AND o.n_tokens >= p.n_tokens
        AND (o.quality_bp > p.quality_bp OR o.n_tokens > p.n_tokens)
    )
    """


@register("q179_pareto_frontier", _pareto_oracle())
def q179_pareto_frontier(spark, sf_dir):
    """Pareto-frontier (skyline) data selection — the documents no
    other document strictly dominates on (quality, length), i.e. the
    candidates a curator inspects when trading quality against
    context length. The naive skyline is an O(n²) self-join (the
    oracle's NOT EXISTS — fine for truth, fatal at scale); this plan
    exploits the BOUNDED quality domain instead: one group-max per
    quality_bp collapses the corpus to ≤10⁴ frontier candidates, a
    running max over descending quality (a window over the collapsed
    domain — ≤10⁴ rows BY CONSTRUCTION, corpus-size-independent)
    marks the frontier x-coordinates, and one broadcast semi-join
    pulls every document sitting exactly on a frontier point. Two
    counter-width shuffles + one broadcast join at any corpus size;
    ties on both coordinates all survive (equal points don't
    strictly dominate each other)."""
    from queens_spark.operators.text import quality_score, token_count

    base = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.floor(quality_score("text") * 10000).cast("bigint").alias(
            "quality_bp"
        ),
        token_count("text").cast("bigint").alias("n_tokens"),
    )
    gx = base.groupBy("quality_bp").agg(F.max("n_tokens").alias("t_max"))
    w = (
        Window.orderBy(F.col("quality_bp").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_x = (
        gx.withColumn("hi", F.max("t_max").over(w))
        .where(F.col("hi").isNull() | (F.col("t_max") > F.col("hi")))
        .select("quality_bp", "t_max")
    )
    return (
        base.join(F.broadcast(frontier_x), "quality_bp")
        .where(F.col("n_tokens") == F.col("t_max"))
        .select("doc_id", "quality_bp", "n_tokens")
    )


def _stream_mix_drift_oracle() -> str:
    from queens_spark.operators.drift import duckdb_drift_from_counts_sql

    return duckdb_drift_from_counts_sql(
        """SELECT date_trunc('hour', ts) AS window_start,
             event_type AS bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2""",
        "window_start",
    )


@register("q180_stream_mix_drift", _stream_mix_drift_oracle())
def q180_stream_mix_drift(spark, sf_dir):
    """Streaming source-mix drift monitor — "did this hour's event mix
    shift?": the watermarked tumbling-window event-type counters run
    as a STREAM (availableNow backfill here, incremental in
    production), and the exact chi-square-on-ppm drift statistic
    (operators/drift.py) finishes BATCH-SIDE on the counter-width sink
    output — Structured Streaming cannot chain a second aggregation,
    so the monitor's deployment shape is exactly this: stream reduces
    corpus → counters, the drift finish reads counters only
    (foreachBatch in production). Each window is scored against the
    pooled all-windows profile with missing event types contributing
    their full reference share — a window where a type VANISHES
    drifts just as loudly as one where a new type floods in."""
    from queens_spark.operators.drift import drift_from_count_frame
    from queens_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        windowed_counts,
    )

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    wc = windowed_counts(ev)
    out = run_available_now(wc, "q180_mem")
    counts = out.select(
        "window_start",
        F.col("event_type").alias("bucket"),
        F.col("n_events").cast("bigint").alias("n"),
    )
    return drift_from_count_frame(counts, "window_start")


def _probe_scored_test(spark, sf_dir):
    """Shared Spark stage for q174/q181/q182/q183: the Fisher-probe
    scored test split — (score, pos) per held-out vector."""
    from queens_spark.operators.probe import (
        fisher_direction_e6,
        probe_score,
    )
    from queens_spark.operators.sampling import hash_split

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "split", hash_split("vec_id", _PROBE_SPLITS)
    )
    w_e6 = fisher_direction_e6(
        emb.where(F.col("split") == "train"),
        "embedding",
        F.col("label") == _PROBE_POS_LABEL,
    )
    return emb.where(F.col("split") == "test").select(
        probe_score("embedding", w_e6).alias("score"),
        (F.col("label") == _PROBE_POS_LABEL).alias("pos"),
    )


def _roc_oracle() -> str:
    return f"""
    WITH {_probe_score_ctes()}, g AS (
      SELECT score, COUNT(*) AS c, SUM(pos) AS cp FROM sc GROUP BY score
    ), cum AS (
      SELECT score, c, cp,
             SUM(cp) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(c) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits
      FROM g
    ), t AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS np,
             CAST(SUM(c - cp) AS BIGINT) AS nn FROM g
    )
    SELECT score,
           CAST(CASE WHEN np = 0 THEN NULL
                ELSE tp * 10000 // np END AS BIGINT) AS tpr_bp,
           CAST(CASE WHEN nn = 0 THEN NULL
                ELSE (hits - tp) * 10000 // nn END AS BIGINT) AS fpr_bp
    FROM cum, t
    """


@register("q181_roc_curve", _roc_oracle())
def q181_roc_curve(spark, sf_dir):
    """Exact ROC curve of the Fisher probe — one (TPR, FPR) point per
    distinct score threshold, integer basis points. The corpus never
    reaches a global window: rows reduce to score GROUPS through the
    two-phase ordinal (operators/probe.score_groups), and the
    cumulative ≥-threshold counts run over that reduced table. The
    curve is what a curation team actually reads when picking the
    quality-filter operating point; its staircase area is q174's AUC
    up to tie interpolation."""
    from queens_spark.operators.probe import roc_points

    return roc_points(_probe_scored_test(spark, sf_dir), "score", "pos")


def _ap_oracle() -> str:
    return f"""
    WITH {_probe_score_ctes()}, g AS (
      SELECT score, COUNT(*) AS c, SUM(pos) AS cp FROM sc GROUP BY score
    ), cum AS (
      SELECT score, c, cp,
             SUM(cp) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(c) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits
      FROM g
    ), t AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS np,
             CAST(SUM(c - cp) AS BIGINT) AS nn FROM g
    )
    SELECT np AS n_pos, nn AS n_neg,
           CAST(CASE WHEN np = 0 OR nn = 0 THEN NULL
                ELSE (SELECT SUM(cp * (tp * 1000000 // hits)) FROM cum)
                     // np END AS BIGINT) AS ap_e6
    FROM t
    """


@register("q182_average_precision", _ap_oracle())
def q182_average_precision(spark, sf_dir):
    """Exact step average precision (PR-curve area) of the Fisher
    probe: AP = Σ ΔR_k·P_k over distinct-score thresholds, computed
    entirely in integer arithmetic (ap_e6 = Σ cp·(TP·10⁶ div hits)
    div n_pos — truncating divisions agree across engines). For the
    ~10%-positive probe task, AP is the honest headline where AUC
    flatters: precision is measured against the flagged set, not
    against the majority class. Same scale shape as q181 — ordinal
    reduction, then group-table arithmetic."""
    from queens_spark.operators.probe import average_precision_e6

    return average_precision_e6(
        _probe_scored_test(spark, sf_dir), "score", "pos"
    )


def _calibration_oracle(bins: int) -> str:
    return f"""
    WITH {_probe_score_ctes()}, g AS (
      SELECT score, COUNT(*) AS c, SUM(pos) AS cp FROM sc GROUP BY score
    ), r AS (
      SELECT score, c, cp,
             COALESCE(SUM(c) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS bef
      FROM g
    ), t AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM g
    )
    SELECT CAST(bef * {bins} // n AS BIGINT) AS bin,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(cp) AS BIGINT) AS n_pos,
           CAST(SUM(cp) * 10000 // SUM(c) AS BIGINT) AS pos_rate_bp
    FROM r, t GROUP BY 1
    """


@register("q183_probe_calibration", _calibration_oracle(10))
def q183_probe_calibration(spark, sf_dir):
    """Score-decile calibration of the Fisher probe: distinct-score
    groups assigned to ten bins by min-rank (ties share a bin — the
    same order-invariance that makes the AUC exact without per-row
    tie-breaks), each bin reporting its positive rate in basis
    points. A usable quality score must be MONOTONE here — rate
    rising with bin — before anyone trusts its threshold; this is
    the audit that catches a direction flip or a saturated score
    long before training data ships. Ordinal + counter aggregations
    only."""
    from queens_spark.operators.probe import calibration_bins

    return calibration_bins(
        _probe_scored_test(spark, sf_dir), "score", "pos", bins=10
    )


_RP_OUT_DIM = 8


def _rp_recall_oracle() -> str:
    from queens_spark.operators.projection import duckdb_rp_project, rp_signs
    from queens_spark.operators.similarity import duckdb_quantize

    signs = rp_signs(64, _RP_OUT_DIM)
    return f"""
    WITH base AS (
      SELECT vec_id, {duckdb_quantize('embedding')} AS qv FROM embeddings
    ), p AS (
      SELECT vec_id, qv, {duckdb_rp_project('qv', signs)} AS proj
      FROM base
    ), q AS (
      SELECT vec_id AS qid, qv AS qqv, proj AS qproj
      FROM p WHERE vec_id % 50 = 0
    ), d AS (
      SELECT p.vec_id, q.qid,
             list_sum(list_transform(range(1, len(p.qv) + 1),
               i -> (p.qv[i] - q.qqv[i]) * (p.qv[i] - q.qqv[i]))) AS d2e,
             list_sum(list_transform(range(1, len(p.proj) + 1),
               i -> (p.proj[i] - q.qproj[i]) * (p.proj[i] - q.qproj[i])))
               AS d2p
      FROM p, q
    ), r AS (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY d2e, vec_id) AS rk_e,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY d2p, vec_id) AS rk_p
      FROM d
    )
    SELECT qid,
           CAST(SUM(CASE WHEN rk_e <= 10 AND rk_p <= 10
                    THEN 1 ELSE 0 END) * 10000 // 10 AS BIGINT)
             AS recall10_bp,
           CAST(SUM(CASE WHEN rk_e <= 10 AND rk_p <= 30
                    THEN 1 ELSE 0 END) * 10000 // 10 AS BIGINT)
             AS recall30_bp
    FROM r GROUP BY qid
    """


@register("q184_rp_recall", _rp_recall_oracle())
def q184_rp_recall(spark, sf_dir):
    """Random-projection (Johnson–Lindenstrauss) recall harness: an
    8-dim Rademacher sign projection of the 64-dim embeddings as the
    cheap candidate ranker, graded per query against exact L2 truth —
    recall@10 strict and with the standard 3× candidate expansion
    (rank ≤30 in projected space covering the true top-10, the
    re-rank-the-shortlist deployment). The sign matrix is SHA-derived
    and literal-folded identically on both engines, so the ESTIMATOR
    is oracle-checked, not just the truth. Plan shape: projection is
    map-only (one constant-folded ±1 matrix); the sampled queries ride
    a BROADCAST side (model-scale rows, never a literal blow-up — the
    first cut folded every query into the expression tree and spent
    9 s in codegen at 40 queries), corpus × queries is a broadcast
    nested-loop producing counter-width rows. The per-query rank
    windows put one query's FULL base in one task, so this harness is
    SAMPLE-SCALE evaluation by design (grade recall on a sampled base
    slice, like every exact-truth eval here — the q102/q116
    precedent); the production candidate path is the projected scan +
    shortlist re-rank, not these windows. At 100 TB the 8× byte
    shrink is what you scan for candidates; only shortlists see full
    vectors."""
    from queens_spark.operators.projection import rp_project, rp_signs
    from queens_spark.operators.similarity import quantize

    signs = rp_signs(64, _RP_OUT_DIM)
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        quantize("embedding").alias("qv"),
        rp_project("embedding", signs).alias("proj"),
    )
    qdf = base.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("qv").alias("qqv"),
        F.col("proj").alias("qproj"),
    )

    def _d2(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    dists = base.crossJoin(F.broadcast(qdf)).select(
        "vec_id",
        "qid",
        _d2("qv", "qqv").alias("d2e"),
        _d2("proj", "qproj").alias("d2p"),
    )
    w_e = Window.partitionBy("qid").orderBy("d2e", "vec_id")
    w_p = Window.partitionBy("qid").orderBy("d2p", "vec_id")
    r = dists.withColumn("rk_e", F.row_number().over(w_e)).withColumn(
        "rk_p", F.row_number().over(w_p)
    )
    return r.groupBy("qid").agg(
        F.expr(
            "CAST(sum(CASE WHEN rk_e <= 10 AND rk_p <= 10 THEN 1 "
            "ELSE 0 END) * 10000 div 10 AS BIGINT)"
        ).alias("recall10_bp"),
        F.expr(
            "CAST(sum(CASE WHEN rk_e <= 10 AND rk_p <= 30 THEN 1 "
            "ELSE 0 END) * 10000 div 10 AS BIGINT)"
        ).alias("recall30_bp"),
    )


def _documents_sketch_store(spark, sf_dir):
    """Stored per-source shingle KMV sketches for the sf_dir's
    documents table — the deployment shape of cross-corpus accounting
    (store/sketch_store.py), twin of :func:`_embeddings_index` /
    :func:`_documents_text_index`: the FIRST run per corpus pays the
    shingle pass and persists the k·sources-row sketch; every later
    run (any session) serves overlap matrices from the artifact with
    NO corpus touch. The fingerprint is the corpus file's stat, so
    regenerated testdata rebuilds instead of serving stale sketches."""
    import hashlib
    import os
    import tempfile

    from queens_spark.operators.dedup import shingle_hashes
    from queens_spark.store.sketch_store import build_or_load_sketch_store
    from queens_spark.store.vector_index import source_fingerprint

    src = os.path.join(sf_dir, "documents.parquet")
    key = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    store_dir = os.path.join(
        tempfile.gettempdir(), "queens_spark_skstore", key
    )
    def sh():
        # built only on a (re)build: the shingle expression alone is
        # ~0.4 s of driver-side plan construction per call
        return load(spark, sf_dir, "documents").select(
            "source", F.explode(shingle_hashes("text")).alias("sh")
        )

    return build_or_load_sketch_store(
        sh, "source", "sh", store_dir, "doc_shingles", k=_KMV_K,
        fingerprint=source_fingerprint(src), spark=spark,
    )


def _kmv_stored_overlap_oracle() -> str:
    return f"""
    WITH {_kmv_overlap_ctes()}
    SELECT ga AS source_a, gb AS source_b, union_est, inter_est
    FROM estp
    """


@register("q185_stored_overlap", _kmv_stored_overlap_oracle())
def q185_stored_overlap(spark, sf_dir):
    """The overlap matrix SERVED from the persisted sketch store —
    q177's estimates with zero corpus touch in the plan (plan-gated:
    no documents.parquet scan, no shingle stage): the first run per
    corpus builds and persists the per-source sketches
    (store/sketch_store.py, fingerprint-gated); every later run — any
    session, any process — answers all 190 pairs from the
    k·sources-row artifact. The oracle recomputes the sketches inline
    from the corpus; stored must match bit-for-bit, which is exactly
    the append-==-rebuild closure contract the store tests prove."""
    st = _documents_sketch_store(spark, sf_dir)
    return st.pair_overlap().select(
        F.col("group_a").alias("source_a"),
        F.col("group_b").alias("source_b"),
        "union_est",
        "inter_est",
    )


def _probe_f1_oracle() -> str:
    return f"""
    WITH {_centroid_confusion_ctes()}, conf AS (
      SELECT true_label, cand AS pred_label, COUNT(*) AS n
      FROM pick WHERE rk = 1 GROUP BY 1, 2
    ), cls AS (
      SELECT true_label AS label,
             CAST(SUM(n) AS BIGINT) AS support,
             CAST(SUM(CASE WHEN pred_label = true_label
                      THEN n ELSE 0 END) AS BIGINT) AS tp
      FROM conf GROUP BY 1
    ), pt AS (
      SELECT pred_label AS label, CAST(SUM(n) AS BIGINT) AS predtot
      FROM conf GROUP BY 1
    )
    SELECT cls.label, support, tp,
           CAST(CASE WHEN COALESCE(predtot, 0) = 0 THEN NULL
                ELSE tp * 10000 // predtot END AS BIGINT)
             AS precision_bp,
           CAST(tp * 10000 // support AS BIGINT) AS recall_bp,
           CAST(2 * tp * 10000 // (support + COALESCE(predtot, 0))
                AS BIGINT) AS f1_bp
    FROM cls LEFT JOIN pt ON pt.label = cls.label
    """


@register("q186_probe_f1", _probe_f1_oracle())
def q186_probe_f1(spark, sf_dir):
    """Per-class precision/recall/F1 of the nearest-centroid probe —
    the numbers a model card actually quotes, derived from q173's
    confusion matrix in exact basis points (a class never predicted
    reports NULL precision rather than a fake zero-division). The
    confusion frame is classes²-sized, so everything here is
    counter arithmetic on broadcastable rows."""
    conf = q173_centroid_classifier(spark, sf_dir)
    cls = conf.groupBy(F.col("true_label").alias("label")).agg(
        F.sum("n").cast("bigint").alias("support"),
        F.sum(
            F.when(F.col("pred_label") == F.col("true_label"), F.col("n"))
            .otherwise(0)
        ).cast("bigint").alias("tp"),
    )
    pt = conf.groupBy(F.col("pred_label").alias("label")).agg(
        F.sum("n").cast("bigint").alias("predtot")
    )
    return cls.join(pt, "label", "left").select(
        "label",
        "support",
        "tp",
        F.expr(
            "CAST(CASE WHEN coalesce(predtot, 0) = 0 THEN NULL "
            "ELSE tp * 10000 div predtot END AS BIGINT)"
        ).alias("precision_bp"),
        F.expr("CAST(tp * 10000 div support AS BIGINT)").alias(
            "recall_bp"
        ),
        F.expr(
            "CAST(2 * tp * 10000 div (support + coalesce(predtot, 0)) "
            "AS BIGINT)"
        ).alias("f1_bp"),
    )


def _margin_mining_oracle(top: int) -> str:
    return f"""
    WITH {_centroid_confusion_ctes()}, o AS (
      SELECT vec_id, true_label, cand, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2, cand) AS rk
      FROM d
    ), m AS (
      SELECT b.vec_id, b.true_label, b.cand AS pred_label,
             CAST(s.d2 - b.d2 AS BIGINT) AS margin
      FROM o b JOIN o s ON b.vec_id = s.vec_id
       AND b.rk = 1 AND s.rk = 2
    ), r AS (
      SELECT vec_id, true_label, pred_label, margin,
             ROW_NUMBER() OVER (PARTITION BY true_label
                                ORDER BY margin, vec_id) AS rr
      FROM m
    )
    SELECT true_label, vec_id, CAST(pred_label AS INT) AS pred_label,
           margin
    FROM r WHERE rr <= {top}
    """


@register("q187_margin_mining", _margin_mining_oracle(5))
def q187_margin_mining(spark, sf_dir):
    """Hard-example mining — the active-learning verb: per true
    class, the five held-out vectors with the SMALLEST decision
    margin (second-best centroid distance minus best), i.e. the
    points a labeler or a curriculum should look at first. Margins
    come from the same constant-folded centroid distances as q173 —
    the pass stays map-only (array_sort over a 10-struct array per
    row, no join), and the per-class top-5 rides a window PARTITIONED
    by class. Margin 0 ⇒ the point sits on a decision boundary."""
    from queens_spark.operators.probe import (
        centroid_distances,
        collect_centroids,
        label_centroids_e6,
    )
    from queens_spark.operators.sampling import hash_split

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "split", hash_split("vec_id", _PROBE_SPLITS)
    )
    model = collect_centroids(
        label_centroids_e6(
            emb.where(F.col("split") == "train"), "embedding", "label"
        )
    )
    scored = emb.where(F.col("split") == "test").select(
        "vec_id",
        F.col("label").alias("true_label"),
        F.array_sort(
            centroid_distances("embedding", model)
        ).alias("ds"),
    ).select(
        "vec_id",
        "true_label",
        F.col("ds")[0]["label"].alias("pred_label"),
        (F.col("ds")[1]["d2"] - F.col("ds")[0]["d2"]).alias("margin"),
    )
    w = Window.partitionBy("true_label").orderBy("margin", "vec_id")
    return (
        scored.withColumn("rr", F.row_number().over(w))
        .where(F.col("rr") <= 5)
        .select("true_label", "vec_id", "pred_label", "margin")
    )


def _threshold_sweep_oracle() -> str:
    return f"""
    WITH pr AS ({_jaccard_oracle(0.5)}),
    b AS (
      SELECT LEAST(CAST(floor(jaccard * 20) AS BIGINT), 19) AS bucket,
             id_a, id_b
      FROM pr
    ), np AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM b GROUP BY 1
    ), nd AS (
      SELECT bucket, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
      FROM (SELECT bucket, unnest([id_a, id_b]) AS d FROM b)
      GROUP BY 1
    )
    SELECT np.bucket, CAST(np.bucket * 500 AS BIGINT) AS thr_lo_bp,
           np.n_pairs, nd.n_docs
    FROM np JOIN nd ON np.bucket = nd.bucket
    """


@register("q188_threshold_sweep", _threshold_sweep_oracle())
def q188_threshold_sweep(spark, sf_dir):
    """Dedup threshold sensitivity — the audit behind the 0.8 the
    catalog's near-dup tier uses: ONE verified pair pass at a loose
    floor (jaccard ≥ 0.5) bucketed into 5%-wide similarity bands,
    with per-band pair and affected-document counts. A curation team
    reads this as "what changes if we move the knob": mass piled just
    under the production threshold means the choice is load-bearing,
    an empty band means it is free. Costs the SAME inverted-index +
    exact-verify pass as one q27 run — the sweep over 10 candidate
    thresholds is a groupBy of the verified sims, NOT 10 reruns.
    Bucket boundaries floor identical IEEE doubles on both engines.
    The bucketed pair frame feeds BOTH the pair counts and the
    affected-doc counts — persist it (pairs-sized, 3 ints/row) so the
    index+verify pass runs once, not once per consumer."""
    from queens_spark.operators.dedup import _persist, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id",
        threshold=0.5,
    )
    b = _persist(pairs.select(
        F.least(F.floor(F.col("jaccard") * 20), F.lit(19))
        .cast("bigint")
        .alias("bucket"),
        "id_a",
        "id_b",
    ))
    np_ = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    nd = (
        b.select("bucket", F.explode(F.array("id_a", "id_b")).alias("d"))
        .distinct()
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return np_.join(nd, "bucket").select(
        "bucket",
        (F.col("bucket") * 500).cast("bigint").alias("thr_lo_bp"),
        "n_pairs",
        "n_docs",
    )


def _probe_summary_oracle() -> str:
    return f"""
    WITH {_centroid_confusion_ctes()}, conf AS (
      SELECT true_label, cand AS pred_label, COUNT(*) AS n
      FROM pick WHERE rk = 1 GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN true_label = pred_label THEN n
                      ELSE 0 END) AS BIGINT) AS correct
      FROM conf
    ), rows_ AS (
      SELECT true_label AS label, CAST(SUM(n) AS BIGINT) AS rn
      FROM conf GROUP BY 1
    ), cols_ AS (
      SELECT pred_label AS label, CAST(SUM(n) AS BIGINT) AS cn
      FROM conf GROUP BY 1
    ), pe AS (
      SELECT CAST(SUM(rows_.rn * COALESCE(cols_.cn, 0)) AS BIGINT)
               AS rcsum
      FROM rows_ LEFT JOIN cols_ ON cols_.label = rows_.label
    ), f1 AS (
      SELECT CAST(SUM(
               2 * tpx * 10000
               // (rn + COALESCE(cn, 0))
             ) AS BIGINT) AS f1sum,
             CAST(COUNT(*) AS BIGINT) AS ncls
      FROM (
        SELECT rows_.label, rows_.rn, cols_.cn,
               (SELECT COALESCE(SUM(n), 0) FROM conf
                WHERE true_label = rows_.label
                  AND pred_label = rows_.label) AS tpx
        FROM rows_ LEFT JOIN cols_ ON cols_.label = rows_.label
      )
    )
    SELECT tot.nn AS n, tot.correct,
           CAST(tot.correct * 10000 // tot.nn AS BIGINT) AS accuracy_bp,
           CAST((SELECT MAX(rn) FROM rows_) * 10000 // tot.nn
                AS BIGINT) AS majority_bp,
           CAST(f1.f1sum // f1.ncls AS BIGINT) AS macro_f1_bp,
           CAST(CASE WHEN tot.nn * tot.nn = pe.rcsum THEN NULL
                ELSE (tot.correct * tot.nn - pe.rcsum) * 10000
                     // (tot.nn * tot.nn - pe.rcsum) END
                AS BIGINT) AS kappa_bp
    FROM tot, pe, f1
    """


@register("q189_probe_summary", _probe_summary_oracle())
def q189_probe_summary(spark, sf_dir):
    """One-row model card for the nearest-centroid probe: accuracy,
    the majority-class baseline it must beat, macro-F1, and Cohen's
    kappa — all exact integer basis points off the classes²-sized
    confusion frame. Kappa cleared of divisions:
    (correct·n − Σ row_i·col_i)·10⁴ div (n² − Σ row_i·col_i), exact in
    bigint for n up to ~3·10⁹ test rows (note the n² — past that,
    accumulate the marginal products in DECIMAL). The degenerate
    single-class matrix (all true labels AND all predictions one
    class) has n² = Σ row·col, so kappa is guarded to NULL in BOTH
    engines — ANSI mode would otherwise raise on the zero denominator
    (the q150 pooled-rate precedent). The macro-F1 averages the
    per-class integer F1s (truncating div first, like q186, so both
    engines agree)."""
    conf = q173_centroid_classifier(spark, sf_dir)
    from queens_spark.operators.dedup import _persist

    conf = _persist(conf)
    tot = conf.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(
            F.when(F.col("true_label") == F.col("pred_label"), F.col("n"))
            .otherwise(0)
        ).cast("bigint").alias("correct"),
    )
    rows_ = conf.groupBy(F.col("true_label").alias("label")).agg(
        F.sum("n").cast("bigint").alias("rn")
    )
    cols_ = conf.groupBy(F.col("pred_label").alias("label")).agg(
        F.sum("n").cast("bigint").alias("cn")
    )
    tp = conf.where(F.col("true_label") == F.col("pred_label")).select(
        F.col("true_label").alias("label"), F.col("n").alias("tpx")
    )
    percls = (
        rows_.join(cols_, "label", "left")
        .join(tp, "label", "left")
        .select(
            "label",
            "rn",
            F.coalesce(F.col("cn"), F.lit(0)).alias("cn"),
            F.coalesce(F.col("tpx"), F.lit(0)).cast("bigint").alias("tpx"),
        )
    )
    f1 = percls.agg(
        F.sum(
            F.expr("2 * tpx * 10000 div (rn + cn)")
        ).cast("bigint").alias("f1sum"),
        F.count(F.lit(1)).cast("bigint").alias("ncls"),
    )
    pe = percls.agg(
        F.sum(F.col("rn") * F.col("cn")).cast("bigint").alias("rcsum")
    )
    maj = rows_.agg(F.max("rn").alias("maxrn"))
    return (
        tot.crossJoin(F.broadcast(pe))
        .crossJoin(F.broadcast(f1))
        .crossJoin(F.broadcast(maj))
        .select(
            F.col("nn").alias("n"),
            "correct",
            F.expr("CAST(correct * 10000 div nn AS BIGINT)").alias(
                "accuracy_bp"
            ),
            F.expr("CAST(maxrn * 10000 div nn AS BIGINT)").alias(
                "majority_bp"
            ),
            F.expr("CAST(f1sum div ncls AS BIGINT)").alias("macro_f1_bp"),
            F.expr(
                "CAST(CASE WHEN nn * nn = rcsum THEN NULL "
                "ELSE (correct * nn - rcsum) * 10000 "
                "div (nn * nn - rcsum) END AS BIGINT)"
            ).alias("kappa_bp"),
        )
    )


def _kmv_stored_distinct_oracle() -> str:
    from queens_spark.operators.kmv import KMV_RANGE

    k = _KMV_K
    return f"""
    WITH {_kmv_sketch_ctes()}
    SELECT source, CAST(sn AS BIGINT) AS sketch_n,
           CAST(CASE WHEN sn < {k} THEN sn
                ELSE {k - 1} * CAST({KMV_RANGE} AS BIGINT) // vk
                END AS BIGINT) AS est_distinct
    FROM agg
    """


# Stored-ECDF catalog constants — f-string-shared between the Spark
# store build and the DuckDB oracles (the _KMV_K convention), so the
# grid geometry moves in lockstep by construction.
_ECDF_WIDTH = 50
_ECDF_BUCKETS = 40
_ECDF_BPS = {"p25": 2500, "p50": 5000, "p90": 9000}
_ECDF_TOK_SQL = r"size(filter(split(text, '\\s+'), x -> x != ''))"


def _documents_ecdf_store(spark, sf_dir):
    """Stored per-source ECDF profiles for the sf_dir's documents
    table (store/ecdf_store.py) — the deployment shape of percentile
    calibration and drift baselines: the FIRST run per corpus pays
    ONE histogram scan covering BOTH profiled values (the token-length
    grid serving q191/q192/q193 AND the quality grid serving q195 —
    the multi-profile build halves the 100 TB build I/O vs two
    separate stores) and persists profiles×sources×buckets counters;
    every later run serves thresholds/CDFs from the artifact with NO
    corpus touch. Fingerprint = corpus file stat (the
    _embeddings_index convention)."""
    import hashlib
    import os
    import tempfile

    from queens_spark.store.ecdf_store import build_or_load_ecdf_profiles
    from queens_spark.store.vector_index import source_fingerprint

    src = os.path.join(sf_dir, "documents.parquet")
    key = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    store_dir = os.path.join(tempfile.gettempdir(), "queens_spark_ecdf", key)
    return build_or_load_ecdf_profiles(
        load(spark, sf_dir, "documents"),
        "source",
        {
            "tok_len": {
                "value_sql": _ECDF_TOK_SQL,
                "width": _ECDF_WIDTH,
                "n_buckets": _ECDF_BUCKETS,
            },
            "quality": {
                "value_sql": _QUALITY_VALUE_SQL,
                "width": _QUALITY_GRID_WIDTH,
                "n_buckets": _QUALITY_GRID_BUCKETS,
            },
        },
        store_dir,
        "doc_profiles",
        fingerprint=source_fingerprint(src),
    )


def _ecdf_ctes() -> str:
    # WHERE text IS NOT NULL mirrors the store's documented NULL-drop
    # (ecdf_store._hist drops NULL values; the token expression is NULL
    # exactly when text is) — without it a NULL-text corpus would emit
    # a NULL-bucket group the store never has
    w, nb = _ECDF_WIDTH, _ECDF_BUCKETS
    return f"""h AS (
      SELECT source,
             least(CAST(len({_DUCK_TOKS}) AS BIGINT) // {w},
                   {nb - 1}) AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
    ), c AS (
      SELECT source, bucket, n,
             CAST(SUM(n) OVER (PARTITION BY source ORDER BY bucket)
                  AS BIGINT) AS cum_n,
             CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS total
      FROM h
    )"""


def _ecdf_thresholds_oracle() -> str:
    w, nb = _ECDF_WIDTH, _ECDF_BUCKETS
    parts = [
        f"""
        SELECT source, '{name}' AS threshold,
               CAST({bp} AS BIGINT) AS bp,
               CAST((bucket + 1) * {w} AS BIGINT) AS value_lt,
               CAST(cum_n * 10000 // total AS BIGINT) AS covered_bp,
               bucket = {nb - 1} AS saturated
        FROM (
          SELECT source, bucket, cum_n, total,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY bucket) AS rn
          FROM c WHERE cum_n * 10000 >= {bp} * total
        ) WHERE rn = 1
        """
        for name, bp in sorted(_ECDF_BPS.items())
    ]
    return f"WITH {_ecdf_ctes()}\n" + " UNION ALL ".join(parts)


@register("q191_stored_token_thresholds", _ecdf_thresholds_oracle())
def q191_stored_token_thresholds(spark, sf_dir):
    """Per-source token-length calibration thresholds SERVED from the
    persisted ECDF store — the q151 normalization insight moved to the
    deployment shape: p25/p50/p90 grid thresholds (exclusive upper
    edges, exact integer coverage in basis points) answer from
    sources×buckets counters with zero corpus touch in the plan
    (plan-gated: no documents scan, no tokenize). The store is kept
    current by exact-merge O(batch) appends (histogram addition —
    append == rebuild bit-for-bit, property-tested); the oracle
    recomputes the identical grid inline from the corpus. Resolution
    is the grid width by design — the store trades exact ranks for a
    bounded, mergeable, bit-portable artifact (NOT a randomized
    sketch: oracle equality is the house rule)."""
    st = _documents_ecdf_store(spark, sf_dir)
    return st.thresholds(_ECDF_BPS, profile="tok_len")


def _ecdf_cdf_oracle() -> str:
    w = _ECDF_WIDTH
    return f"""
    WITH {_ecdf_ctes()}
    SELECT source, bucket, CAST(bucket * {w} AS BIGINT) AS lo,
           CAST((bucket + 1) * {w} AS BIGINT) AS hi, n, cum_n, total
    FROM c
    """


@register("q192_stored_token_cdf", _ecdf_cdf_oracle())
def q192_stored_token_cdf(spark, sf_dir):
    """The full per-source token-length CDF from the same stored grid
    (q191's artifact, second consumer — drift baselines and length-mix
    dashboards read this table): (bucket, lo, hi, n, cum_n, total) per
    source, cumulative windows over ≤ n_buckets counter rows per group
    (bounded at any corpus size). Zero corpus touch in the plan; the
    oracle recomputes the grid inline."""
    st = _documents_ecdf_store(spark, sf_dir)
    return st.cdf(profile="tok_len")


def _stored_drift_oracle() -> str:
    from queens_spark.operators.drift import duckdb_drift_from_counts_sql

    w, nb = _ECDF_WIDTH, _ECDF_BUCKETS
    counts = f"""
      SELECT source,
             least(CAST(len({_DUCK_TOKS}) AS BIGINT) // {w},
                   {nb - 1}) AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
    """
    return duckdb_drift_from_counts_sql(counts, "source")


@register("q193_stored_source_drift", _stored_drift_oracle())
def q193_stored_source_drift(spark, sf_dir):
    """Per-source token-length drift vs the pooled corpus profile,
    computed ENTIRELY from the stored ECDF grid (q191's artifact,
    third consumer): the source histograms AND the pooled reference
    both derive from the same sources×buckets counters, so the whole
    drift matrix — the "which source's length mix looks wrong"
    dashboard — costs zero corpus touch (plan-gated) and stays fresh
    through the store's O(batch) appends. Same exact ppm chi-square as
    q165 (operators/drift.py); the oracle recomputes the histogram
    inline from the corpus."""
    from queens_spark.operators.drift import drift_from_count_frame

    st = _documents_ecdf_store(spark, sf_dir)
    return drift_from_count_frame(st.hist(profile="tok_len"), "source")


# Quality-grid constants (q195): quality ∈ [0,1] scales to integer
# basis points before bucketing, so the grid arithmetic stays
# integer-exact; the double→floor step is identical-formula IEEE math
# on both engines (quality_score uses only +,-,*,/ in a fixed order).
_QUALITY_GRID_WIDTH = 250
_QUALITY_GRID_BUCKETS = 41
_QUALITY_BPS = {"p10": 1000, "p50": 5000}
_QUALITY_TOKS_SQL = r"filter(split(text, '\\s+'), x -> x != '')"
_QUALITY_VALUE_SQL = (
    # NULL text → NULL value (dropped by the store's documented
    # NULL-drop): without the outer CASE the quality expression
    # evaluates to 7000 on NULL text (least() skips NULLs, the inner
    # CASE guards fall to their ELSE arms), while the oracle's
    # WHERE text IS NOT NULL drops the doc — a latent divergence on
    # any corpus with NULL texts
    "CASE WHEN text IS NULL THEN NULL ELSE "
    "CAST(floor(("
    "0.4 * least(CAST(size(" + _QUALITY_TOKS_SQL + ") AS DOUBLE) / 100.0, 1.0)"
    " + 0.3 * (1.0 - (CASE WHEN length(text) > 0 THEN "
    "CAST(length(text) - length(regexp_replace(text, "
    r"'[^A-Za-z0-9\\s]', '')) AS DOUBLE) / CAST(length(text) AS DOUBLE) "
    "ELSE 0.0 END))"
    " + 0.3 * (CASE WHEN size(" + _QUALITY_TOKS_SQL + ") > 0 THEN "
    "CAST(size(array_distinct(" + _QUALITY_TOKS_SQL + ")) AS DOUBLE) / "
    "CAST(size(" + _QUALITY_TOKS_SQL + ") AS DOUBLE) ELSE 0.0 END)"
    ") * 10000) AS BIGINT) END"
)


def _quality_thresholds_oracle() -> str:
    w, nb = _QUALITY_GRID_WIDTH, _QUALITY_GRID_BUCKETS
    quality = f"""0.4 * least(CAST(len({_DUCK_TOKS}) AS DOUBLE) / 100.0, 1.0)
           + 0.3 * (1.0 - CASE WHEN length(text) > 0
                THEN CAST(length(text) -
                     length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
                     AS DOUBLE) / length(text) ELSE 0.0 END)
           + 0.3 * (CASE WHEN len({_DUCK_TOKS}) > 0
                THEN CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE)
                     / len({_DUCK_TOKS}) ELSE 0.0 END)"""
    parts = [
        f"""
        SELECT source, '{name}' AS threshold,
               CAST({bp} AS BIGINT) AS bp,
               CAST((bucket + 1) * {w} AS BIGINT) AS value_lt,
               CAST(cum_n * 10000 // total AS BIGINT) AS covered_bp,
               bucket = {nb - 1} AS saturated
        FROM (
          SELECT source, bucket, cum_n, total,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY bucket) AS rn
          FROM c WHERE cum_n * 10000 >= {bp} * total
        ) WHERE rn = 1
        """
        for name, bp in sorted(_QUALITY_BPS.items())
    ]
    return f"""
    WITH q AS (
      SELECT source,
             CAST(floor(({quality}) * 10000) AS BIGINT) AS qbp
      FROM documents WHERE text IS NOT NULL
    ), h AS (
      SELECT source, least(qbp // {w}, {nb - 1}) AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM q GROUP BY 1, 2
    ), c AS (
      SELECT source, bucket, n,
             CAST(SUM(n) OVER (PARTITION BY source ORDER BY bucket)
                  AS BIGINT) AS cum_n,
             CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS total
      FROM h
    )
    """ + " UNION ALL ".join(parts)


@register("q195_stored_quality_floors", _quality_thresholds_oracle())
def q195_stored_quality_floors(spark, sf_dir):
    """Per-source QUALITY floors served from a second stored ECDF
    instance (the store is generic over its manifest value
    expression): quality_score scales to integer basis points
    (identical-formula IEEE double math on both engines, then an exact
    floor), profiles into a 41-bucket grid per source, and the p10/p50
    floors — "the quality level a source's worst decile sits under",
    the cross-source calibration q151 computes with exact ranks —
    serve from the artifact with zero corpus touch and stay fresh
    through O(batch) appends. The oracle recomputes the scaled
    histogram inline from the corpus."""
    st = _documents_ecdf_store(spark, sf_dir)
    return st.thresholds(_QUALITY_BPS, profile="quality")


def _temperature_mixture_oracle() -> str:
    from queens_spark.operators.sampling import (
        duckdb_temperature_mixture_cte,
    )

    inner = duckdb_temperature_mixture_cte("documents", "doc_id", "source")
    return f"SELECT doc_id, source FROM ({inner})"


@register("q194_temperature_mixture", _temperature_mixture_oracle())
def q194_temperature_mixture(spark, sf_dir):
    """Temperature-resampled training mixture (α = ½ — the
    multilingual-pretraining smoothing rule): per-source weights
    derive from the corpus's OWN composition as ⌊√n_s⌋ normalized to
    ppm, so dominant sources down-weight and tail sources up-weight
    without hand-tuned targets, then q65's max-feasible deterministic
    sampler realizes the mix (stable per-key hash membership — same
    rows on any engine at any parallelism). Exactness discipline: the
    float sqrt is corrected down when IEEE rounding crosses an integer
    (w² > n), making the weights ⌊√n⌋ exactly on both engines. One
    counter-width count + a map-side hash filter; the corpus never
    shuffles."""
    from queens_spark.operators.sampling import temperature_mixture

    return temperature_mixture(
        load(spark, sf_dir, "documents"), "doc_id", "source"
    ).select("doc_id", "source")


@register("q190_stored_distinct", _kmv_stored_distinct_oracle())
def q190_stored_distinct(spark, sf_dir):
    """Per-source distinct-shingle estimates SERVED from the persisted
    sketch store — q176's estimator with zero corpus touch in the
    plan, completing the serve-path pair with q185: build once
    (fingerprint-gated), then any session answers distinct accounting
    from k·sources rows. The oracle recomputes the sketches inline
    from the corpus; stored must hash-match the recompute."""
    st = _documents_sketch_store(spark, sf_dir)
    return st.distinct_estimates().select(
        "source", "sketch_n", "est_distinct"
    )


# =====================================================================
# Takedown-visible cluster-map serving (q196/q197)
# =====================================================================

# The takedown set is a static predicate (the oracle string is fixed at
# registration): every ~97th document retires. Spark side collects the
# matching ids (takedown lists are driver-scale by nature) and retires
# them from a SECOND stored map, so the shared q36-family map stays
# untouched.
_TAKEDOWN_MOD, _TAKEDOWN_REM = 97, 3


def _minus_retired(sql: str) -> str:
    """Rewrite an inline clustering oracle to run on the SURVIVOR
    corpus while FREEZING the capped-index stop-shingle cap at the
    FULL corpus count — the stored map froze max_df at build and
    retirement keeps it (store/cluster_map.py), so the oracle must
    not let the cap drift with the shrunken survivor count."""
    out = sql.replace(
        "(SELECT COUNT(*) FROM documents) // 100",
        "(SELECT COUNT(*) FROM __alldocs) // 100",
    ).replace("FROM documents", "FROM __livedocs")
    ctes = (
        "__alldocs AS (SELECT * FROM documents), __livedocs AS "
        "(SELECT * FROM documents WHERE NOT "
        f"(doc_id % {_TAKEDOWN_MOD} = {_TAKEDOWN_REM}))"
    )
    if out.lstrip().startswith("WITH RECURSIVE"):
        return out.replace(
            "WITH RECURSIVE", f"WITH RECURSIVE {ctes}, ", 1
        )
    return f"WITH {ctes} " + out


def _documents_clusters_retired(spark, sf_dir):
    """Stored cluster map AFTER a takedown (store/cluster_map.py:
    retire_cluster_map): build (or serve) a second map over the full
    corpus, then retire the static takedown set from it — exercising
    canonical re-election, component splits, and (when the dfs land
    that way) hot-shingle un-flips against an oracle that re-clusters
    the survivors inline. The retire itself runs ONCE per corpus
    (the manifest's retirement list marks it done); every later run
    serves artifact reads."""
    import hashlib
    import os
    import tempfile

    from queens_spark.store.cluster_map import (
        build_or_load_cluster_map,
        retire_cluster_map,
        source_fingerprint,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    key = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    map_dir = os.path.join(
        tempfile.gettempdir(), "queens_spark_cmap", key + "_takedown"
    )
    cm = build_or_load_cluster_map(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        map_dir,
        fingerprint=source_fingerprint(src),
        n=3,
        threshold=0.8,
    )
    if not cm.entry.get("retirements"):
        ids = [
            r["doc_id"]
            for r in load(spark, sf_dir, "documents")
            .where(
                (F.col("doc_id") % _TAKEDOWN_MOD) == _TAKEDOWN_REM
            )
            .select("doc_id")
            .collect()
        ]
        cm = retire_cluster_map(spark, map_dir, ids)
    return cm


@register("q196_takedown_components", _minus_retired(_components_oracle(0.8)))
def q196_takedown_components(spark, sf_dir):
    """Dedup components AFTER a takedown, served from the stored map's
    retirement deltas (store/cluster_map.py:retire_cluster_map —
    coverage-scoped tombstones + a CC re-run over ONLY the affected
    components' stored edges): the oracle re-clusters the survivor
    corpus from scratch at the frozen stop-shingle cap, and the served
    members must match it bit-for-bit — including components the
    removal SPLIT and ones a hot-shingle un-flip MERGED. Zero corpus
    access in the retire (every input is a stored artifact); serving
    is a winner-select over counter-width member deltas."""
    return _documents_clusters_retired(spark, sf_dir).members().select(
        "doc_id", "component_id"
    )


@register("q197_takedown_canonical", _minus_retired(_best_in_cluster_oracle(0.8)))
def q197_takedown_canonical(spark, sf_dir):
    """Canonical keep-list AFTER a takedown: where the retired doc WAS
    a cluster's quality-best canonical, the retirement delta
    re-elected the next-best surviving member (same (quality, −id)
    winner rule); vanished clusters are tombstoned out. The oracle
    recomputes canonicals over the re-clustered survivors — stored
    re-election must match the from-scratch choice bit-for-bit. This
    is the takedowns-stay-down story for release keep-lists: a
    retired canonical disappears from the map's members, so
    export_release(cluster_map=...) re-elects without it."""
    return _documents_clusters_retired(spark, sf_dir).canonical()


# =====================================================================
# Event analytics: funnels, cohorts, sessions (q198-q200)
# =====================================================================

_FUNNEL_STEPS = ["view", "click", "purchase"]


def _funnel_oracle() -> str:
    s1, s2, s3 = _FUNNEL_STEPS
    return f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = '{s1}' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = '{s2}' AND e.ts > s1.t1 GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = '{s3}' AND e.ts > s2.t2 GROUP BY 1
    ), n AS (
      SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n1,
             CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n2,
             CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n3
    )
    SELECT 1 AS step, '{s1}' AS event_type, n1 AS n_users,
           CAST(10000 AS BIGINT) AS conv_bp FROM n
    UNION ALL
    SELECT 2, '{s2}', n2,
           CASE WHEN n1 > 0 THEN n2 * 10000 // n1 ELSE 0 END FROM n
    UNION ALL
    SELECT 3, '{s3}', n3,
           CASE WHEN n2 > 0 THEN n3 * 10000 // n2 ELSE 0 END FROM n
    """


def _funnel_steps_from_counts(n, s1: str, s2: str, s3: str):
    """Unfold the single-row (n1, n2, n3) counts frame into the three
    step rows with ONE reference to it: an inline array-of-structs
    explode. Re-selecting the frame once per step (the obvious union)
    plans its whole upstream chain three times — a 3× corpus-scan
    blowup the runtime's exchange reuse does not fully recover."""
    rows = F.array(
        F.struct(
            F.lit(1).cast("int").alias("step"),
            F.lit(s1).alias("event_type"),
            F.col("n1").alias("n_users"),
            F.lit(10000).cast("bigint").alias("conv_bp"),
        ),
        F.struct(
            F.lit(2).cast("int").alias("step"),
            F.lit(s2).alias("event_type"),
            F.col("n2").alias("n_users"),
            F.when(F.col("n1") > 0, F.expr("n2 * 10000 div n1"))
            .otherwise(F.lit(0)).cast("bigint").alias("conv_bp"),
        ),
        F.struct(
            F.lit(3).cast("int").alias("step"),
            F.lit(s3).alias("event_type"),
            F.col("n3").alias("n_users"),
            F.when(F.col("n2") > 0, F.expr("n3 * 10000 div n2"))
            .otherwise(F.lit(0)).cast("bigint").alias("conv_bp"),
        ),
    )
    return n.select(F.explode(rows).alias("r")).select("r.*")


@register("q198_funnel_conversion", _funnel_oracle())
def q198_funnel_conversion(spark, sf_dir):
    """Strict-order funnel (view → click → purchase): a user reaches
    step k only with an event AFTER their step-(k−1) first-completion
    time — the product-analytics primitive, computed as a CHAIN of
    per-user min aggregations (each step joins the previous step's
    user-width frame and pushes its event_type filter into the scan;
    no per-user event-array collection, no window over the raw
    stream), finishing in three counter-width counts fused into one
    result frame. Conversion is exact integer basis points per step.
    At 100 TB: each stage shuffles one (user, ts) row per qualifying
    user; the event scans are type-pruned; nothing corpus-scale ever
    sorts. a1/a2 feed two consumers each (the next stage's join and
    their own count), so the user-width frames go through the
    size-gated _barrier — without it every re-reference re-runs its
    whole upstream chain (at corpus scale: 18 events scans in the
    naive plan; 3 with the barrier on). The single-reference counts
    unfold (_funnel_steps_from_counts) is unconditional: it removes
    the 3× plan fan-out at zero cost."""
    ev = load(spark, sf_dir, "events")
    s1, s2, s3 = _FUNNEL_STEPS
    a1 = _barrier(
        ev.where(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1")),
        sf_dir, "events",
    )
    a2 = _barrier(
        ev.where(F.col("event_type") == s2)
        .join(a1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2")),
        sf_dir, "events",
    )
    a3 = (
        ev.where(F.col("event_type") == s3)
        .join(a2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n = (
        a1.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
        .crossJoin(a2.agg(F.count(F.lit(1)).cast("bigint").alias("n2")))
        .crossJoin(a3.agg(F.count(F.lit(1)).cast("bigint").alias("n3")))
    )
    return _funnel_steps_from_counts(n, s1, s2, s3)


_RETENTION_OFFSETS = [1, 3, 7]


def _cohort_retention_oracle() -> str:
    offs = ", ".join(str(d) for d in _RETENTION_OFFSETS)
    return f"""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY 1
    ), cohort AS (
      SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_cohort
      FROM first_day GROUP BY 1
    ), activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), hits AS (
      SELECT f.cohort_day,
             CAST(datediff('day', f.cohort_day, a.day) AS BIGINT)
               AS day_offset,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
      FROM activity a JOIN first_day f USING (user_id)
      WHERE datediff('day', f.cohort_day, a.day) IN ({offs})
      GROUP BY 1, 2
    )
    SELECT c.cohort_day, h.day_offset, h.n_active, c.n_cohort,
           CAST(h.n_active * 10000 // c.n_cohort AS BIGINT)
             AS retention_bp
    FROM hits h JOIN cohort c USING (cohort_day)
    """


@register("q199_cohort_retention", _cohort_retention_oracle())
def q199_cohort_retention(spark, sf_dir):
    """Cohort retention — users grouped by FIRST-SEEN day, measured
    for activity exactly 1/3/7 days later: the growth-analytics table
    every event warehouse serves. Per-user first day is one min
    aggregation; activity collapses to distinct (user, day) BEFORE the
    cohort join (the corpus-width dedup happens map-side-combinable,
    never a per-user sort); retention is exact integer basis points.
    first_day feeds two consumers (cohort and the hits join); without
    a barrier each reference re-runs its corpus scan AND corpus-width
    shuffle (runtime exchange reuse does not fire — the join side's
    null-filter makes the subtrees non-identical), so the user-width
    frame rides the size-gated _barrier. Persisting the wider activity
    frame as well was measured 2× worse solo at sf0.1 (cache build >
    the pruned re-scan it saves) and dropped."""
    ev = load(spark, sf_dir, "events")
    first_day = _barrier(
        ev.groupBy("user_id").agg(
            F.min(F.to_date("ts")).alias("cohort_day")
        ),
        sf_dir, "events",
    )
    cohort = first_day.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cohort")
    )
    activity = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    hits = (
        activity.join(first_day, "user_id")
        .withColumn(
            "day_offset",
            F.datediff("day", "cohort_day").cast("bigint"),
        )
        .where(F.col("day_offset").isin(_RETENTION_OFFSETS))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
    )
    return hits.join(cohort, "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_active",
        "n_cohort",
        F.expr("n_active * 10000 div n_cohort")
        .cast("bigint")
        .alias("retention_bp"),
    )


_SESSION_GAP_MIN = 30


def _sessionize_oracle() -> str:
    return f"""
    WITH marked AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(LAG(ts) OVER w)
                          > {_SESSION_GAP_MIN} * 60
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value, event_id,
             CAST(SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS BIGINT) AS session_no
      FROM marked
    )
    SELECT user_id, session_no,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM sess GROUP BY 1, 2
    """


@register("q200_sessionize_events", _sessionize_oracle())
def q200_sessionize_events(spark, sf_dir):
    """Batch sessionization with a 30-minute inactivity gap: the
    canonical lag-then-running-sum pattern — a session break marks
    where the gap to the previous event exceeds the threshold, and the
    running count of breaks IS the session number; one aggregate then
    rolls each session up (events, span, value in exact integer
    cents). ONE corpus-width shuffle on user_id serves both windows
    (ties break on event_id so the numbering is deterministic on both
    engines); the session rollup's exchange carries only partial-
    aggregated session-width rows. Per-user event streams are the
    partition unit — no global sort, no corpus-wide window. The
    streaming twin is session_aggregates (streaming/events.py); this
    is its exact batch shape for backfills."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = ev.select(
        "user_id",
        "ts",
        "value",
        "event_id",
        F.when(
            gap.isNull() | (gap > _SESSION_GAP_MIN * 60), F.lit(1)
        ).otherwise(F.lit(0)).alias("is_start"),
    )
    sess = marked.withColumn(
        "session_no",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        # explicit round BEFORE the bigint cast: DuckDB's double->
        # bigint cast rounds while Spark's truncates — round() makes
        # the conversion identical-formula IEEE math on both engines
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )


_FUNNEL_WINDOW_HOURS = 24


def _windowed_funnel_oracle() -> str:
    s1, s2, s3 = _FUNNEL_STEPS
    w = _FUNNEL_WINDOW_HOURS
    return f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = '{s1}' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = '{s2}' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL {w} HOUR
      GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = '{s3}' AND e.ts > s2.t2
        AND e.ts <= s2.t2 + INTERVAL {w} HOUR
      GROUP BY 1
    ), n AS (
      SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n1,
             CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n2,
             CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n3
    )
    SELECT 1 AS step, '{s1}' AS event_type, n1 AS n_users,
           CAST(10000 AS BIGINT) AS conv_bp FROM n
    UNION ALL
    SELECT 2, '{s2}', n2,
           CASE WHEN n1 > 0 THEN n2 * 10000 // n1 ELSE 0 END FROM n
    UNION ALL
    SELECT 3, '{s3}', n3,
           CASE WHEN n2 > 0 THEN n3 * 10000 // n2 ELSE 0 END FROM n
    """


@register("q201_funnel_windowed", _windowed_funnel_oracle())
def q201_funnel_windowed(spark, sf_dir):
    """CONVERSION-WINDOW funnel — q198's strict-order chain with a
    bounded horizon per step ("click within 24 h of the first view,
    purchase within 24 h of that click"): the form real product
    funnels take, since an unbounded funnel credits conversions that
    arrive weeks later. Identical plan shape to q198 — each stage is
    one extra pushed-down range predicate on the already-joined
    (user, prev_ts) frame, so the 100 TB posture is unchanged:
    type-pruned scans, per-user min-aggs, three single-row broadcast
    joins, no corpus sort. a1/a2 ride the size-gated _barrier for the
    same reason as q198's (two consumers each). The streaming twin is
    funnel_progress (streaming/events.py) — same steps, same window,
    state evicted once a user's horizon passes."""
    ev = load(spark, sf_dir, "events")
    s1, s2, s3 = _FUNNEL_STEPS
    w = _FUNNEL_WINDOW_HOURS
    a1 = _barrier(
        ev.where(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1")),
        sf_dir, "events",
    )
    a2 = _barrier(
        ev.where(F.col("event_type") == s2)
        .join(a1, "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr(f"INTERVAL {w} HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2")),
        sf_dir, "events",
    )
    a3 = (
        ev.where(F.col("event_type") == s3)
        .join(a2, "user_id")
        .where(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr(f"INTERVAL {w} HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n = (
        a1.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
        .crossJoin(a2.agg(F.count(F.lit(1)).cast("bigint").alias("n2")))
        .crossJoin(a3.agg(F.count(F.lit(1)).cast("bigint").alias("n3")))
    )
    return _funnel_steps_from_counts(n, s1, s2, s3)


def _stream_funnel_oracle() -> str:
    s1, s2, s3 = _FUNNEL_STEPS
    w = _FUNNEL_WINDOW_HOURS
    return f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = '{s1}' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = '{s2}' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL {w} HOUR
      GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = '{s3}' AND e.ts > s2.t2
        AND e.ts <= s2.t2 + INTERVAL {w} HOUR
      GROUP BY 1
    )
    SELECT user_id, 1 AS step, '{s1}' AS event_type, t1 AS ts FROM s1
    UNION ALL
    SELECT user_id, 2, '{s2}', t2 FROM s2
    UNION ALL
    SELECT user_id, 3, '{s3}', t3 FROM s3
    """


@register("q202_stream_funnel", _stream_funnel_oracle())
def q202_stream_funnel(spark, sf_dir):
    """STREAMING conversion-window funnel (q201's twin) in availableNow
    backfill, oracle-checked: funnel_progress
    (streaming/events.py, applyInPandasWithState) advances each user
    through view → click → purchase with the 24 h per-step horizon and
    emits one row per completion. All input lands in one micro-batch
    here, where rows process in (event_time, event_id) order — so the
    emitted (user, step, ts) set equals the batch chain exactly. State
    per user is three timestamps, removed on completion (and
    TTL-evictable live): the bounded-state argument that makes the
    operator deployable against an unbounded user space."""
    from queens_spark.streaming.events import (
        funnel_progress,
        read_events_stream,
        run_available_now,
    )

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    fp = funnel_progress(
        ev.select("user_id", "event_type", "event_id", "event_time"),
        steps=tuple(_FUNNEL_STEPS),
        window_hours=_FUNNEL_WINDOW_HOURS,
    )
    return run_available_now(
        fp, "q202_mem", output_mode="append", stream_partitions=None
    )


def _time_to_convert_oracle() -> str:
    s1, s2, s3 = _FUNNEL_STEPS
    return f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = '{s1}' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = '{s2}' AND e.ts > s1.t1 GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = '{s3}' AND e.ts > s2.t2 GROUP BY 1
    ), dts AS (
      -- per-timestamp floor seconds (epoch_us // 1e6), NOT epoch():
      -- DuckDB's epoch() is fractional and the bigint cast ROUNDS,
      -- while Spark's ts.cast('long') truncates each timestamp
      SELECT 2 AS step,
             (epoch_us(t2) // 1000000) - (epoch_us(t1) // 1000000)
               AS dt_s
      FROM s2 JOIN s1 USING (user_id)
      UNION ALL
      SELECT 3, (epoch_us(t3) // 1000000) - (epoch_us(t2) // 1000000)
      FROM s3 JOIN s2 USING (user_id)
    ), c AS (
      SELECT step, dt_s, CAST(COUNT(*) AS BIGINT) AS k FROM dts
      GROUP BY 1, 2
    ), cum AS (
      SELECT step, dt_s, k,
             CAST(SUM(k) OVER (PARTITION BY step ORDER BY dt_s) AS BIGINT)
               AS cum_k,
             CAST(SUM(k) OVER (PARTITION BY step) AS BIGINT) AS n
      FROM c
    )
    SELECT step, MAX(n) AS n_users,
           MIN(CASE WHEN cum_k * 2 >= n THEN dt_s END) AS p50_s,
           CAST(SUM(dt_s * k) // MAX(n) AS BIGINT) AS avg_s,
           MAX(dt_s) AS max_s
    FROM cum GROUP BY step
    """


@register("q203_time_to_convert", _time_to_convert_oracle())
def q203_time_to_convert(spark, sf_dir):
    """Funnel latency: for users reaching step k, the distribution of
    seconds between their step-(k−1) and step-k completions — the
    metric that turns a funnel from counts into "WHERE do users
    stall". Exact integer stats: the median is the smallest dt whose
    cumulative user count covers half the step (computed by a
    per-step running sum over the DISTINCT-dt frame — bounded by the
    user count, never a corpus sort), the mean is an exact integer
    div. Scale shape: the step frames are q198's user-width min-agg
    chains; everything after is counter-width. Each step CARRIES the
    previous step's timestamp through its own aggregation (t-prev is
    constant per user under the join, so min() re-selects it exactly),
    which removes both user-width join-backs the dt projection would
    otherwise need."""
    ev = load(spark, sf_dir, "events")
    s1, s2, s3 = _FUNNEL_STEPS
    a1 = (
        ev.where(F.col("event_type") == s1)
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    a2 = (
        ev.where(F.col("event_type") == s2)
        .join(a1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    a3 = (
        ev.where(F.col("event_type") == s3)
        .join(a2.select("user_id", "t2"), "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2"))
    )
    d2 = a2.select(
        F.lit(2).cast("int").alias("step"),
        (F.col("t2").cast("long") - F.col("t1").cast("long"))
        .cast("bigint").alias("dt_s"),
    )
    d3 = a3.select(
        F.lit(3).cast("int").alias("step"),
        (F.col("t3").cast("long") - F.col("t2").cast("long"))
        .cast("bigint").alias("dt_s"),
    )
    c = (
        d2.unionByName(d3)
        .groupBy("step", "dt_s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    w_cum = (
        Window.partitionBy("step").orderBy("dt_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("step")
    cum = c.select(
        "step", "dt_s", "k",
        F.sum("k").over(w_cum).cast("bigint").alias("cum_k"),
        F.sum("k").over(w_all).cast("bigint").alias("n"),
    )
    return cum.groupBy("step").agg(
        F.max("n").alias("n_users"),
        F.min(
            F.when(F.col("cum_k") * 2 >= F.col("n"), F.col("dt_s"))
        ).alias("p50_s"),
        F.expr("sum(dt_s * k) div max(n)").cast("bigint").alias("avg_s"),
        F.max("dt_s").alias("max_s"),
    )


_TOUCH_TYPES = ["view", "click", "signup"]


def _attribution_oracle() -> str:
    touches = ", ".join(f"'{t}'" for t in _TOUCH_TYPES)
    return f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type, value,
             LAST_VALUE(
               CASE WHEN event_type IN ({touches}) THEN event_type END
               IGNORE NULLS
             ) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS channel
      FROM events
    )
    SELECT COALESCE(channel, 'direct') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM marked WHERE event_type = 'purchase'
    GROUP BY 1
    """


@register("q204_last_touch_attribution", _attribution_oracle())
def q204_last_touch_attribution(spark, sf_dir):
    """Last-touch revenue attribution: each purchase credits the
    user's most recent preceding touch event (view/click/signup;
    'direct' when none) — the standard marketing-analytics join,
    computed with ONE corpus-width shuffle on user_id (an
    ignore-nulls last() over the per-user event stream; ties break on
    event_id so both engines pick the same touch) and a channel-width
    rollup in exact integer cents. No per-purchase point lookup, no
    self-join: the window carries the running last-touch for free."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.last(
            F.when(
                F.col("event_type").isin(_TOUCH_TYPES),
                F.col("event_type"),
            ),
            ignorenulls=True,
        ).over(w).alias("channel"),
    )
    return (
        marked.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint").alias("value_cents"),
        )
    )


_ROLLING_ACTIVE_DAYS = 7


def _rolling_actives_oracle() -> str:
    w = _ROLLING_ACTIVE_DAYS
    return f"""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), days AS (
      SELECT DISTINCT day FROM activity
    )
    SELECT d.day,
           CAST(COUNT(DISTINCT CASE WHEN a.day = d.day
                                    THEN a.user_id END) AS BIGINT)
             AS dau,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT CASE WHEN a.day = d.day
                                    THEN a.user_id END) * 10000
                // COUNT(DISTINCT a.user_id) AS BIGINT) AS stickiness_bp
    FROM days d
    JOIN activity a
      ON a.day <= d.day AND a.day >= d.day - {w - 1}
    GROUP BY 1
    """


@register("q205_rolling_actives", _rolling_actives_oracle())
def q205_rolling_actives(spark, sf_dir):
    """DAU / rolling-7-day WAU / stickiness (DAU·10⁴ div WAU) per
    day — the engagement dashboard every event warehouse serves. The
    corpus collapses ONCE to distinct (user, day) — map-side
    combinable, user×day width — and the rolling window is a range
    join of that collapsed frame against the DISTINCT day list (days
    are calendar-width, so the join fans each activity row out at
    most 7×, never a corpus blow-up). Exact integer basis points.
    activity feeds two consumers (the day list and the range join);
    the day branch's copy prunes to the single ts column and collapses
    map-side to calendar width, so the duplicate is cheaper than a
    cluster-wide cache of the user×day frame at any scale (a persist
    barrier here measured 2× worse solo at sf0.1 and was dropped)."""
    ev = load(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = activity.select(F.col("day").alias("d")).distinct()
    joined = days.join(
        activity,
        (F.col("day") <= F.col("d"))
        & (F.col("day") >= F.date_sub(F.col("d"), _ROLLING_ACTIVE_DAYS - 1)),
    )
    return (
        joined.groupBy("d")
        .agg(
            F.count_distinct(
                F.when(F.col("day") == F.col("d"), F.col("user_id"))
            ).cast("bigint").alias("dau"),
            F.count_distinct("user_id").cast("bigint").alias("wau"),
        )
        .select(
            F.col("d").alias("day"),
            "dau",
            "wau",
            F.expr("dau * 10000 div wau").cast("bigint")
            .alias("stickiness_bp"),
        )
    )


_SESSION_USER_CAP = 70


def _capped_sessions_oracle() -> str:
    return f"""
    WITH counts AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM events GROUP BY 1
    ), normal AS (
      SELECT user_id FROM counts WHERE n_events <= {_SESSION_USER_CAP}
    ), marked AS (
      SELECT e.user_id,
             CASE WHEN LAG(e.ts) OVER w IS NULL
                       OR epoch(e.ts) - epoch(LAG(e.ts) OVER w)
                          > {_SESSION_GAP_MIN} * 60
                  THEN 1 ELSE 0 END AS is_start
      FROM events e JOIN normal USING (user_id)
      WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)
    ), starts AS (
      SELECT user_id, CAST(SUM(is_start) AS BIGINT) AS n_sessions
      FROM marked GROUP BY 1
    )
    SELECT c.user_id,
           CAST(c.n_events > {_SESSION_USER_CAP} AS BOOLEAN)
             AS quarantined,
           s.n_sessions, c.n_events, c.value_cents
    FROM counts c LEFT JOIN starts s USING (user_id)
    """


@register("q206_capped_sessionization", _capped_sessions_oracle())
def q206_capped_sessionization(spark, sf_dir):
    """Sessionization with the BOT-CAP guard — the mitigation
    SCALE.md's per-user-skew entry prescribes, implemented: per-user
    event counts (counter-width) route users over the cap to a
    QUARANTINE row (flagged, totals only — their 10⁷-event streams
    never enter the per-user ordering window, so one bot cannot
    straggle the stage), while normal users sessionize exactly (the
    q200 lag-then-running-sum, rolled up per user). The counts
    aggregation, the semi-join, and the window all key on user_id —
    AQE reuses the partitioning, and the quarantine side adds no
    corpus-scale work. The per-user-cap frame carries NO broadcast
    hint: at 100 TB the user dimension itself is large. counts feeds
    two consumers (the cap filter and the final rollup join), so the
    user-width frame rides the size-gated _barrier — two corpus scans,
    not three, once the corpus outgrows the cache-build cost."""
    ev = load(spark, sf_dir, "events")
    counts = _barrier(ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("value_cents"),
    ), sf_dir, "events")
    normal = counts.where(
        F.col("n_events") <= _SESSION_USER_CAP
    ).select("user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = (
        ev.join(normal, "user_id", "semi")
        .select(
            "user_id",
            F.when(
                gap.isNull() | (gap > _SESSION_GAP_MIN * 60), F.lit(1)
            ).otherwise(F.lit(0)).alias("is_start"),
        )
    )
    starts = marked.groupBy("user_id").agg(
        F.sum("is_start").cast("bigint").alias("n_sessions")
    )
    return counts.join(starts, "user_id", "left").select(
        "user_id",
        (F.col("n_events") > _SESSION_USER_CAP).alias("quarantined"),
        "n_sessions",
        "n_events",
        "value_cents",
    )
