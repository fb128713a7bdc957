"""Parquet-backed warehouse: versioned ingest, snapshot staging, metadata.

Layout (under one warehouse root):

    raw/{collection}/        append-only fact data, partitioned by
                             table_name (partition pruning for the
                             mandatory per-query table_name predicate)
    prod/{collection}/       staged snapshot, partitioned by table_name,
                             with a persisted monotone ``row_uid`` per
                             partition for cursor pagination
    system/{collection}/ingest_log/   version store (append-only)
    system/{collection}/metadata/     per-table column catalog

Spark reads and writes the fact data only. The two system tables are a
handful of rows per ingest, so the driver reads and writes them with
pyarrow and no Spark job (a Spark write of a one-row file cost about a
second, a Spark ``max`` over the log half a second):

- ``ingest_log/`` holds one parquet file per log append, named
  ``{ingest_id:012d}-{success}.parquet`` (``000000000000-empty.parquet``
  for the empty log ``etl.process.initialize`` creates). Each file is
  written as ``.{name}.tmp`` and ``os.replace``d into place, so readers
  never see a partial file.
- ``metadata/`` holds the whole catalog in one file,
  ``catalog.parquet``, replaced the same way on every refresh.
- Logs and catalogs Spark wrote before this layout still read: every
  visible ``*.parquet`` file counts. Spark stored ``ingest_ts`` as
  INT96, which pyarrow reads as ``timestamp[ns]``; the driver writes
  ``timestamp[us, tz=UTC]``. A whole-directory pyarrow read fails on
  that mix, so each file is read on its own and cast to the driver
  schema. A legacy catalog is superseded by the first
  ``catalog.parquet`` written beside it.

Parity map (file:line into /root/reference/):
- ingest + provenance flip-flag:      queens/core/read_write.py:267-337
- raw→prod snapshot CTAS:             queens/core/read_write.py:340-404
  (winners picked on the driver from the resolved log — SURVEY.md S6/W3)
- metadata build:                     queens/core/read_write.py:464-531
  (re-expressed as ONE distributed agg pass, not per-column pandas)
- bootstrap / table_exists:           queens/etl/bootstrap.py:8-55

Design for scale: raw and prod are partitioned by the logical-table
discriminator so every query's forced ``table_name = ?`` predicate
prunes to one partition; appends are new parquet files (no
read-modify-write of data); the ingest log and metadata tables hold
one row per ingest and per (table, column), so they stay driver-sized.
"""

from __future__ import annotations

import json
import os
import shutil
import urllib.parse
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from queens_spark.core.errors import StagingError
from queens_spark.core.schema import CollectionSchema, key_columns
from queens_spark.settings import DEFAULT_WAREHOUSE, ROW_UID

LOG_SCHEMA = T.StructType(
    [
        T.StructField("ingest_id", T.LongType(), False),
        T.StructField("ingest_ts", T.TimestampType(), False),
        T.StructField("data_collection", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("table_description", T.StringType(), True),
        T.StructField("success", T.LongType(), False),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("data_collection", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("n_non_nulls", T.LongType(), False),
        T.StructField("n_unique", T.LongType(), False),
        T.StructField("dtype", T.StringType(), False),
    ]
)


#: the driver-side file schemas of the two system tables
_LOG_ARROW = to_arrow_schema(LOG_SCHEMA)
_META_ARROW = to_arrow_schema(META_SCHEMA)
_CATALOG_FILE = "catalog.parquet"
#: Spark's own datetime <-> epoch-microsecond rule (naive datetimes are
#: local time), so driver-written ``ingest_ts`` values and ``as_of``
#: cutoffs compare exactly as the Spark-written log did
_TS = T.TimestampType()


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _cutoff(as_of: datetime | str | None) -> datetime:
    """A staging cutoff: a datetime, a ``YYYY-MM-DD`` string, or now."""
    if isinstance(as_of, str):
        return datetime.strptime(as_of, "%Y-%m-%d")
    return as_of or _utcnow()


def _parquet_files(path: str) -> list[str]:
    """Visible parquet files of a system-table dir (tmp files are
    dot-prefixed; Spark's ``_SUCCESS`` and ``.crc`` files are skipped)."""
    try:
        names = os.listdir(path)
    except OSError:
        return []
    return sorted(
        os.path.join(path, n) for n in names
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


def _read_rows(files: list[str], schema: pa.Schema) -> list[dict]:
    """Rows of *files*, each read on its own and cast to *schema*
    (legacy INT96 ``timestamp[ns]`` and driver ``timestamp[us, UTC]``
    files cannot be read as one dataset). Timestamps come back as
    epoch microseconds."""
    rows = []
    for f in files:
        t = pq.ParquetFile(f).read().select(schema.names).cast(schema)
        for i, field in enumerate(schema):
            if pa.types.is_timestamp(field.type):
                t = t.set_column(i, field.name, t.column(i).cast(pa.int64()))
        rows.extend(t.to_pylist())
    return rows


def _write_rows(path: str, name: str, rows: list[dict], schema: pa.Schema) -> None:
    """Write *rows* (timestamps as epoch microseconds) as the single
    parquet file *path*/*name*: a dot-prefixed tmp file first, then
    ``os.replace``, so no reader ever sees a partial file. Readers
    take whole files and cast them to the schema, so neither the
    Arrow schema nor column statistics are stored."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp,
                   store_schema=False, write_statistics=False)
    os.replace(tmp, os.path.join(path, name))


def with_row_uid(staged: DataFrame, order_cols: list[str]) -> DataFrame:
    """Per-``table_name`` dense ordinal 1..N following the total order
    of *order_cols* (asc, nulls last) — the persisted cursor key.

    Two-phase, so no logical table is ever numbered by a single task
    (a ``row_number`` window partitioned by table_name serializes each
    table through one task — fatal for billion-row tables):

    1. range-partition on (table_name, order_cols): each partition
       holds a contiguous slice of one-or-more tables' sort order;
    2. ordinal within (partition, table) chunks — parallelism is the
       number of chunks, not tables — plus a broadcast join of chunk
       offsets (a chunks×tables-row frame, computed with a cumulative
       window over chunk counts).

    Rows with equal full sort keys are identical in every ordering
    column, so their (arbitrary but complete) numbering at chunk
    boundaries is observationally equivalent to any stable sort.
    """
    sort_exprs = [F.col(c).asc_nulls_last() for c in order_cols]
    ranged = staged.repartitionByRange(*sort_exprs)
    part = ranged.withColumn("__pid", F.spark_partition_id())
    w_local = Window.partitionBy("__pid", "table_name").orderBy(*sort_exprs)
    local = part.withColumn("__rn", F.row_number().over(w_local))
    counts = local.groupBy("__pid", "table_name").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_off = (
        Window.partitionBy("table_name")
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__pid",
        "table_name",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), ["__pid", "table_name"])
        # long, not int: the two-phase numbering exists precisely for
        # billion-row logical tables, where a 32-bit ordinal would wrap
        .withColumn(ROW_UID, (F.col("__off") + F.col("__rn")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


class Warehouse:
    def __init__(self, spark: SparkSession, root: str = DEFAULT_WAREHOUSE):
        self.spark = spark
        self.root = root
        # Per-snapshot memo for driver-side metadata probes: maps
        # (collection, table_name) -> (snapshot_token, value). The token
        # is the store directory's mtime_ns, so the cache survives
        # unrelated queries but self-invalidates when ANY process
        # re-stages (os.replace bumps the dir mtime); stage() also
        # clears eagerly. Mirrors the reference's one-time metadata
        # probe per process (queens/etl/process.py metadata read) while
        # staying correct across processes.
        self._queryable_cache: dict[tuple[str, str], tuple[int, set[str]]] = {}
        self._description_cache: dict[tuple[str, str], tuple[int, str | None]] = {}
        self._prod_frame_cache: dict[str, tuple[int, DataFrame]] = {}

    def _snapshot_token(self, path: str) -> int:
        try:
            return os.stat(path).st_mtime_ns
        except OSError:
            return -1

    def _invalidate_caches(self, collection: str) -> None:
        for cache in (self._queryable_cache, self._description_cache):
            for key in [k for k in cache if k[0] == collection]:
                del cache[key]
        self._prod_frame_cache.pop(collection, None)

    # ------------------------------------------------------------ paths

    def raw_path(self, collection: str) -> str:
        return os.path.join(self.root, "raw", collection)

    def prod_path(self, collection: str) -> str:
        return os.path.join(self.root, "prod", collection)

    def log_path(self, collection: str) -> str:
        return os.path.join(self.root, "system", collection, "ingest_log")

    def meta_path(self, collection: str) -> str:
        return os.path.join(self.root, "system", collection, "metadata")

    def manifest_path(self, collection: str) -> str:
        return os.path.join(
            self.root, "system", collection, "staged_manifest.json"
        )

    def _exists(self, path: str) -> bool:
        # parquet dirs always contain a _SUCCESS marker or data files
        return os.path.isdir(path) and any(
            not f.startswith(".") for f in os.listdir(path)
        )

    def table_exists(self, collection: str, which: str = "raw") -> bool:
        return self._exists(getattr(self, f"{which}_path")(collection))

    def is_staged(self, collection: str) -> bool:
        return self._exists(self.prod_path(collection))

    # ------------------------------------------------------------- read

    def read_raw(self, collection: str) -> DataFrame:
        return self.spark.read.parquet(self.raw_path(collection))

    def read_prod(self, collection: str) -> DataFrame:
        """Staged snapshot. The DataFrame (an immutable logical plan
        over the snapshot's file listing) is memoized per snapshot:
        re-creating it per page re-runs parquet schema/footer probing —
        a whole Spark job of pure overhead on the interactive path."""
        token = self._snapshot_token(self.prod_path(collection))
        cached = self._prod_frame_cache.get(collection)
        if cached is not None and cached[0] == token:
            return cached[1]
        df = self.spark.read.parquet(self.prod_path(collection))
        self._prod_frame_cache[collection] = (token, df)
        return df

    def log_rows(self, collection: str) -> list[dict]:
        """Resolved ingest log, read on the driver: one row per
        ingest_id with its final success state (``ingest_ts`` as epoch
        microseconds). The log dir is append-only (a success=0 marker
        row is written before the data, a success=1 row after —
        queens/core/read_write.py:300-332); resolution keeps the max
        success per ingest_id, so an ingest that died mid-write stays
        success=0 and is invisible to staging."""
        resolved: dict[int, dict] = {}
        for r in _read_rows(_parquet_files(self.log_path(collection)), _LOG_ARROW):
            prev = resolved.get(r["ingest_id"])
            if prev is None or r["success"] > prev["success"]:
                resolved[r["ingest_id"]] = r
        return [resolved[i] for i in sorted(resolved)]

    def _frame(self, rows: list[dict], schema: T.StructType) -> DataFrame:
        """Spark frame over driver rows. Built from pandas through
        Arrow, it is a local relation: no Python worker, and no Spark
        job until something reads it."""
        return self.spark.createDataFrame(
            pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
            .to_pandas(),
            schema,
        )

    def read_log(self, collection: str) -> DataFrame:
        """The resolved ingest log (:meth:`log_rows`) as a Spark frame."""
        return self._frame(self.log_rows(collection), LOG_SCHEMA)

    def metadata_rows(self, collection: str) -> list[dict]:
        """The metadata catalog, read on the driver. A driver-written
        ``catalog.parquet`` supersedes any legacy Spark part files
        still beside it (a refresh that died before removing them)."""
        files = _parquet_files(self.meta_path(collection))
        catalog = os.path.join(self.meta_path(collection), _CATALOG_FILE)
        return _read_rows([catalog] if catalog in files else files, _META_ARROW)

    def read_metadata(self, collection: str) -> DataFrame:
        return self._frame(self.metadata_rows(collection), META_SCHEMA)

    def _write_metadata(self, collection: str, rows: list[dict]) -> None:
        """Replace the whole catalog with *rows*, then drop any legacy
        Spark part files the new ``catalog.parquet`` supersedes."""
        out = self.meta_path(collection)
        _write_rows(out, _CATALOG_FILE, rows, _META_ARROW)
        for f in _parquet_files(out):
            if os.path.basename(f) != _CATALOG_FILE:
                os.remove(f)

    def winners(
        self, collection: str, as_of: datetime | str | None = None
    ) -> dict[str, dict]:
        """Staging winners from the resolved log: per table_name the
        latest ``(ingest_ts, ingest_id)`` with success=1 and
        ``ingest_ts ≤ as_of`` (default: now)."""
        cutoff = _TS.toInternal(_cutoff(as_of))
        out: dict[str, dict] = {}
        for r in self.log_rows(collection):
            if (r["success"] != 1 or r["ingest_ts"] > cutoff
                    or r["data_collection"] != collection):
                continue
            prev = out.get(r["table_name"])
            if prev is None or (r["ingest_ts"], r["ingest_id"]) > (
                prev["ingest_ts"], prev["ingest_id"]
            ):
                out[r["table_name"]] = r
        return out

    # ----------------------------------------------------------- ingest

    def next_ingest_id(self, collection: str) -> int:
        """One past the largest logged id, success=0 markers included,
        so an id that crashed mid-write is never reused."""
        ids = [r["ingest_id"] for r in self.log_rows(collection)]
        return max(ids, default=0) + 1

    def _append_log(self, collection: str, rows: list[dict]) -> None:
        """Append *rows* (``ingest_ts`` a datetime) as one new log file."""
        name = (
            f"{rows[0]['ingest_id']:012d}-{rows[0]['success']}.parquet"
            if rows else f"{0:012d}-empty.parquet"
        )
        _write_rows(
            self.log_path(collection), name,
            [dict(r, ingest_ts=_TS.toInternal(r["ingest_ts"])) for r in rows],
            _LOG_ARROW,
        )

    def ingest_frame(
        self,
        df: DataFrame,
        schema: CollectionSchema,
        table_name: str,
        url: str | None = None,
        table_description: str | None = None,
        ingest_ts: datetime | None = None,
        validate: bool = True,
    ) -> int:
        """Validate and append one logical table's frame to raw.

        Protocol (flip-flag, queens/core/read_write.py:267-337): a
        success=0 log row is committed before the data write and a
        success=1 row after, so a crash mid-write can never produce a
        stageable but incomplete version.
        """
        collection = schema.name
        ingest_id = self.next_ingest_id(collection)
        ts = ingest_ts or _utcnow()
        df = df.withColumn("table_name", F.lit(table_name)) \
               .withColumn("ingest_id", F.lit(ingest_id).cast("long"))
        df = schema.coerce(df)
        if validate:
            schema.validate(df, key_columns(schema, df.columns))
        entry = {
            "ingest_id": ingest_id, "ingest_ts": ts,
            "data_collection": collection, "table_name": table_name,
            "url": url, "table_description": table_description,
        }
        self._append_log(collection, [dict(entry, success=0)])
        (
            df.write.mode("append")
            .partitionBy("table_name")
            .parquet(self.raw_path(collection))
        )
        self._append_log(collection, [dict(entry, success=1)])
        return ingest_id

    # ---------------------------------------------------------- staging

    def _read_manifest(self, collection: str) -> dict | None:
        """Staged manifest: the winner ingest_id (and partition dir)
        each staged table_name currently reflects. None = no manifest
        (fresh warehouse or pre-manifest layout → full restage)."""
        try:
            with open(self.manifest_path(collection)) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def _write_manifest(
        self, collection: str, tables: dict, takedown_seq: int = 0
    ) -> None:
        path = self.manifest_path(collection)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + "__tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"tables": tables, "takedown_seq": int(takedown_seq)},
                fh, sort_keys=True,
            )
        os.replace(tmp, path)

    @staticmethod
    def _partition_dirs(path: str) -> dict[str, str]:
        """table_name → partition dirname under *path* (Spark escapes
        partition values with %XX — unquote reverses it exactly)."""
        out = {}
        for entry in os.listdir(path):
            if entry.startswith("table_name="):
                out[urllib.parse.unquote(entry.split("=", 1)[1])] = entry
        return out

    def stage(
        self,
        schema: CollectionSchema,
        as_of: datetime | str | None = None,
        takedown: dict | None = None,
    ) -> list[str]:
        """Bring the prod snapshot to the latest successful version of
        each table_name with ingest_ts ≤ *as_of* (queens/core/
        read_write.py:340-404), then refresh metadata.

        The reference's `MAX(ingest_ts) GROUP BY table_name` CTE +
        double join collapses to a driver-side pick over the resolved
        log (:meth:`winners`); raw is then filtered to the winning
        ingest_ids, whose timestamps and descriptions ride in as
        literals. Returns the table names of the manifest it writes,
        and pre-fills the ``queryable_columns`` and
        ``table_description`` memos, so the first page after a stage
        runs one Spark job.

        INCREMENTAL: a staged manifest records which winner ingest_id
        each prod table reflects, so a re-stage rewrites ONLY the
        table_name partitions whose winner changed (plus removals when
        an ``as_of`` cutoff rolls a table out) — at 100 TB, staging
        after one table's ingest is O(that table), not a full prod
        rebuild + renumber. Sound because every per-table artifact is
        independent: row_uid numbering is per-table by construction
        (see with_row_uid — partition chunks offset within table_name),
        and the metadata catalog groups by table_name, so unchanged
        tables' files and catalog rows are byte-identical either way.
        Each changed table swaps in via two renames (old aside, new
        in); the manifest is written only after all swaps + metadata,
        so a crash mid-stage re-stages the incomplete tables on the
        next call instead of losing them.

        *takedown* (``Engine.stage`` supplies it from the collection's
        takedown artifact, store/takedown.py) makes retirements reach
        prod: ``{"seq", "changed_tables", "frame", "id_col"}``. The
        coverage-scoped retired frame anti-joins the staged rows
        BEFORE row_uid numbering — numbering stays a pure per-table
        function of the SURVIVOR rows, so prod equals a fresh stage of
        the survivor corpus. Incrementality is preserved: a new
        takedown seq forces a rewrite of exactly the tables its
        segments name (recorded at retire time from one column-pruned
        raw probe); untouched tables stay byte-identical.
        """
        collection = schema.name
        cutoff = _cutoff(as_of)
        winners = self.winners(collection, cutoff)
        if not winners:
            raise StagingError(
                f"no successful ingests for '{collection}' at cutoff {cutoff}"
            )

        out = self.prod_path(collection)
        manifest = self._read_manifest(collection) if self._exists(out) else None
        prev = (manifest or {}).get("tables", {})
        incremental = manifest is not None
        td_seq = int((takedown or {}).get("seq", 0))
        prev_td_seq = int((manifest or {}).get("takedown_seq", 0))
        if incremental:
            changed_set = {
                t for t, r in winners.items()
                if t not in prev or prev[t].get("ingest_id") != r["ingest_id"]
            }
            if takedown is not None and td_seq != prev_td_seq:
                # takedown-affected tables re-filter even when their
                # winner version did not change
                changed_set |= set(takedown.get("changed_tables") or ()) & set(
                    winners
                )
            changed = sorted(changed_set)
            removed = sorted(t for t in prev if t not in winners)
        else:
            changed, removed = sorted(winners), []

        if not changed and not removed:
            if td_seq != prev_td_seq:
                # e.g. a purge cleared every live segment: nothing to
                # rewrite, but record the new seq so later stages stop
                # diffing against a stale takedown state
                self._write_manifest(collection, prev, takedown_seq=td_seq)
            return sorted(winners)

        raw = self.read_raw(collection)
        if incremental:
            # partition pruning: unchanged table_name partitions of raw
            # are never even read
            raw = raw.where(F.col("table_name").isin(changed))
        # the winners ride into the plan as literals: a filter on their
        # ids plus id -> ingest_ts / description map lookups (joining a
        # frame built from a Python list would start a Python worker)
        wins = [winners[t] for t in changed]

        def by_id(value, dtype: str):
            pairs = [x for w in wins for x in (F.lit(w["ingest_id"]), value(w))]
            return F.create_map(*pairs).cast(f"map<bigint,{dtype}>")[
                F.col("ingest_id")
            ]

        staged = raw.where(
            F.col("ingest_id").isin([w["ingest_id"] for w in wins])
        ).select(
            "ingest_id",
            *[c for c in raw.columns if c != "ingest_id"],
            by_id(lambda w: F.timestamp_micros(F.lit(w["ingest_ts"])),
                  "timestamp").alias("ingest_ts"),
            by_id(lambda w: F.lit(w["table_description"]),
                  "string").alias("table_description"),
        )
        retired = (takedown or {}).get("frame")
        if retired is not None and (takedown or {}).get("id_col") in staged.columns:
            # coverage-scoped survivor filter: a retired id's rows die
            # only in ingests the takedown covered — a later re-ingest
            # of the same id (the revision route) serves its new row.
            # No broadcast hint: retention purges can be corpus-scale.
            tid = takedown["id_col"]
            staged = staged.join(
                retired,
                (staged[tid] == retired[tid])
                & (staged["ingest_id"] <= retired["__covers"]),
                "left_anti",
            )

        # Persisted stable row id per logical table: deterministic total
        # order over the dimension columns (SURVEY.md §7.4.1) — replaces
        # SQLite's implicit rowid for ORDER BY + keyset pagination.
        # Two-phase numbering (see with_row_uid): no per-table
        # single-task sort; numbering is a pure per-table function of
        # the rows, so numbering changed tables alone reproduces what a
        # full restage would assign.
        order_cols = [c for c in staged.columns
                      if c not in (ROW_UID, "table_description")]
        staged = with_row_uid(staged, order_cols)

        tmp = out + "__staging_tmp"
        staged.write.mode("overwrite").partitionBy("table_name").parquet(tmp)

        new_tables = {t: dict(v) for t, v in prev.items()}
        if incremental:
            written = self._partition_dirs(tmp)
            for t in changed:
                entry = written.get(t)
                dst = os.path.join(out, entry) if entry else None
                old_entry = prev.get(t, {}).get("dir")
                if entry is None:
                    # winner has zero rows: drop the table from prod
                    if old_entry and os.path.isdir(os.path.join(out, old_entry)):
                        shutil.rmtree(os.path.join(out, old_entry))
                    new_tables.pop(t, None)
                    continue
                if os.path.isdir(dst):
                    # park the old partition INSIDE tmp, never beside
                    # dst: a crash mid-swap must not leave a phantom
                    # 'table_name=X__old' dir that partition discovery
                    # would read as data — tmp is overwritten by the
                    # next stage() and removed below, so leftovers
                    # self-clean
                    os.replace(dst, os.path.join(tmp, entry + "__old"))
                    os.replace(os.path.join(tmp, entry), dst)
                else:
                    os.replace(os.path.join(tmp, entry), dst)
                new_tables[t] = {
                    "ingest_id": winners[t]["ingest_id"], "dir": entry,
                }
            for t in removed:
                entry = prev.get(t, {}).get("dir")
                if entry and os.path.isdir(os.path.join(out, entry)):
                    shutil.rmtree(os.path.join(out, entry))
                new_tables.pop(t, None)
            shutil.rmtree(tmp)
            # partition swaps happen under the root — bump its mtime
            # explicitly so every snapshot-token cache self-invalidates
            os.utime(out)
        else:
            if os.path.isdir(out):
                shutil.rmtree(out)
            os.replace(tmp, out)
            new_tables = {
                t: {"ingest_id": winners[t]["ingest_id"], "dir": entry}
                for t, entry in self._partition_dirs(out).items()
            }

        self._invalidate_caches(collection)
        self.refresh_metadata(
            schema,
            tables=changed if incremental else None,
            removed=removed,
        )
        self._write_manifest(collection, new_tables, takedown_seq=td_seq)
        # every staged row carries its winner's description, so the
        # first page after this stage needs no probe job for it
        token = self._snapshot_token(out)
        for t in new_tables:
            self._description_cache[(collection, t)] = (
                token, winners[t]["table_description"]
            )
        return sorted(new_tables)

    def purge_rows(
        self,
        collection: str,
        retired: DataFrame,
        id_col: str,
        tables: list[str],
    ) -> list[str]:
        """Physically remove retired rows from RAW: rewrite exactly
        the named table_name partitions, keeping only rows the
        coverage-scoped *retired* frame (``(id_col, __covers)``,
        store/takedown.py) does not hide — a row with
        ``ingest_id > __covers`` is a post-takedown re-ingest and
        survives. ``Engine.maintain`` drives this, then restages so
        prod drops the bytes too, then clears the takedown segments.

        Idempotent (re-purging removes nothing), O(affected tables)
        — untouched partitions are never read. Each rewrite lands
        fully in a holding dir under system/ before the two-rename
        swap (the stage() pattern; the holding dir lives OUTSIDE the
        raw root so a crash can never leave a phantom
        ``table_name=X__old`` dir that partition discovery would read
        as data). Returns the tables actually rewritten."""
        root = self.raw_path(collection)
        if not self._exists(root):
            return []
        part_dirs = self._partition_dirs(root)
        hold = os.path.join(self.root, "system", collection, "purge_tmp")
        shutil.rmtree(hold, ignore_errors=True)
        os.makedirs(hold, exist_ok=True)
        purged = []
        for t in tables:
            entry = part_dirs.get(t)
            if entry is None:
                continue
            src = os.path.join(root, entry)
            df = self.spark.read.parquet(src)
            if id_col not in df.columns or "ingest_id" not in df.columns:
                continue
            keep = df.join(
                retired,
                (df[id_col] == retired[id_col])
                & (df["ingest_id"] <= retired["__covers"]),
                "left_anti",
            )
            tmp = os.path.join(hold, entry)
            keep.write.mode("overwrite").parquet(tmp)
            if not any(f.endswith(".parquet") for f in os.listdir(tmp)):
                # every row purged: AQE coalesces an empty frame to
                # zero tasks → zero part files, which a later read of
                # this partition dir cannot infer a schema from; force
                # one empty part file carrying the schema
                keep.limit(0).repartition(1).write.mode(
                    "overwrite"
                ).parquet(tmp)
            os.replace(src, os.path.join(hold, entry + "__old"))
            os.replace(tmp, src)
            purged.append(t)
        shutil.rmtree(hold, ignore_errors=True)
        if purged:
            os.utime(root)
            self._invalidate_caches(collection)
        return purged

    def compact(
        self, collection: str, target_files: int = 1,
        which: str = "prod",
    ) -> dict[str, tuple[int, int]]:
        """Small-file compaction of the prod snapshot — or, with
        ``which="raw"``, of the append-only RAW table: rewrite every
        ``table_name`` partition holding more than *target_files*
        parquet files down to *target_files*, leaving rows (including
        the persisted ``row_uid`` on prod, and the ``ingest_id``
        provenance column on raw) byte-identical. Returns
        {table_name: (files_before, files_after)} for the partitions
        actually rewritten.

        Raw fragments faster than prod: every ingest appends one
        file-set per touched partition (queens/core/read_write.py:
        267-337 appends one SQLite batch; the parquet analog is one
        part-file set), so a long-lived collection accumulates one
        layer per ingest even though staging reads only the winners.
        Compacting raw preserves version resolution exactly — winners
        are chosen by the ingest_id COLUMN and the log, never by file
        layout.

        Why it exists at 100 TB: incremental staging keeps re-staging
        O(changed data), but a long-lived warehouse accumulates file
        fragmentation (each stage writes at shuffle-width), and scan
        cost is driven by file COUNT as much as bytes — open/footer
        overhead per file, and tiny files defeat
        ``maxPartitionBytes``-sized splits. Compaction restores
        few-large-files layout without touching staging semantics.

        Crash-safety mirrors stage(): each partition is rewritten into
        a side tmp dir and swapped in with two renames (old parked
        INSIDE tmp, so a crash never leaves a phantom dir that
        partition discovery would read); partitions already at or
        below the target are not even opened. Per-partition jobs make
        the pass resumable — rerunning after a crash compacts only
        what's left."""
        if target_files < 1:
            raise ValueError(f"target_files must be ≥ 1, got {target_files}")
        if which not in ("prod", "raw"):
            raise ValueError(f"which must be 'prod' or 'raw', got {which!r}")
        out = getattr(self, f"{which}_path")(collection)
        tmp = out + "__compact_tmp"
        if os.path.isdir(tmp) and not os.path.isdir(out):
            # the live root itself is gone: tmp may hold the only
            # parked copies — refuse to clean it up
            raise StagingError(
                f"'{collection}' {which} root missing but {tmp} exists — "
                "restore manually before compacting"
            )
        if os.path.isdir(tmp):
            # Unlike stage() — whose tmp holds data that regenerates
            # from raw on the next call — a parked '__old' partition
            # here IS the only copy if the previous run crashed between
            # its two renames. Restore any whose live dir is missing
            # BEFORE clearing tmp, or the rerun would destroy them.
            for entry in os.listdir(tmp):
                if entry.endswith("__old"):
                    live = os.path.join(out, entry[: -len("__old")])
                    if not os.path.isdir(live):
                        os.replace(os.path.join(tmp, entry), live)
            shutil.rmtree(tmp)
            os.utime(out)
            self._invalidate_caches(collection)
        if not self._exists(out):
            raise StagingError(
                f"'{collection}' is not staged" if which == "prod"
                else f"'{collection}' has no raw data"
            )
        report: dict[str, tuple[int, int]] = {}
        for t, entry in sorted(self._partition_dirs(out).items()):
            pdir = os.path.join(out, entry)
            n_before = sum(
                1 for f in os.listdir(pdir)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            if n_before <= target_files:
                continue
            dst_tmp = os.path.join(tmp, entry)
            (
                self.spark.read.parquet(pdir)
                .coalesce(target_files)
                .write.mode("overwrite")
                .parquet(dst_tmp)
            )
            os.replace(pdir, os.path.join(tmp, entry + "__old"))
            os.replace(dst_tmp, pdir)
            n_after = sum(
                1 for f in os.listdir(pdir)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            report[t] = (n_before, n_after)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        if report:
            os.utime(out)
            self._invalidate_caches(collection)
        return report

    def refresh_metadata(
        self,
        schema: CollectionSchema,
        tables: list[str] | None = None,
        removed: list[str] | None = None,
    ) -> list[str]:
        """Rebuild the per-(table_name, column) catalog in ONE pass over
        prod: count + approx-free exact distinct per column, collected
        per table and unpivoted to long on the driver, keeping only
        populated columns (all-null columns are absent → not
        queryable, queens/etl/validation.py:218-220). The catalog is
        written by the driver (see the module docstring).

        With *tables* given, the stats pass scans ONLY those tables'
        prod partitions (partition pruning) and merges into the
        existing catalog on the driver — the per-table stats are an
        independent groupBy(table_name) aggregate, so the merged
        catalog is row-identical to a full rebuild. *removed* tables'
        rows are dropped. This keeps stage() O(changed data) end to
        end. Returns the catalogued table names."""
        collection = schema.name
        prod = self.read_prod(collection)
        if tables is not None:
            prod = prod.where(F.col("table_name").isin(list(tables)))
        cols = [c for c in prod.columns
                if c in schema.columns or c == ROW_UID]
        aggs = []
        for c in cols:
            aggs.append(F.count(F.col(c)).alias(f"nn__{c}"))
            aggs.append(F.countDistinct(F.col(c)).alias(f"nu__{c}"))
        dtypes = {
            c: schema.sql_type_of(c) if c in schema.columns else "INTEGER"
            for c in cols
        }
        fresh = [
            {
                "data_collection": collection, "table_name": w["table_name"],
                "column_name": c, "n_non_nulls": w[f"nn__{c}"],
                "n_unique": w[f"nu__{c}"], "dtype": dtypes[c],
            }
            for w in prod.groupBy("table_name").agg(*aggs).collect()
            for c in cols if w[f"nn__{c}"] > 0
        ]
        if tables is not None:
            stale = set(tables) | set(removed or ())
            fresh = [
                r for r in self.metadata_rows(collection)
                if r["table_name"] not in stale
            ] + fresh
        self._write_metadata(collection, fresh)
        # the catalog just written answers every queryable_columns probe
        token = self._snapshot_token(self.meta_path(collection))
        by_table: dict[str, set[str]] = {}
        for r in fresh:
            by_table.setdefault(r["table_name"], set()).add(r["column_name"])
        for t, names in by_table.items():
            self._queryable_cache[(collection, t)] = (token, names)
        return sorted(by_table)

    def queryable_columns(self, collection: str, table_name: str) -> set[str]:
        """Populated-column set for one staged table, memoized per
        metadata snapshot so repeated pages never re-read the catalog."""
        token = self._snapshot_token(self.meta_path(collection))
        cached = self._queryable_cache.get((collection, table_name))
        if cached is not None and cached[0] == token:
            return cached[1]
        cols = {
            r["column_name"] for r in self.metadata_rows(collection)
            if r["table_name"] == table_name
        }
        self._queryable_cache[(collection, table_name)] = (token, cols)
        return cols

    def table_description(self, collection: str, table_name: str) -> str | None:
        """Description of the STAGED version of *table_name*, memoized
        per prod snapshot (the reference returns it with every data
        page, queens/api/app.py:170-185 — at interactive QPS an
        uncached LIMIT 1 scan per page is driver-bound). Read from prod
        rather than the ingest log so an ``as_of`` staging cutoff and
        the page body can never disagree."""
        token = self._snapshot_token(self.prod_path(collection))
        cached = self._description_cache.get((collection, table_name))
        if cached is not None and cached[0] == token:
            return cached[1]
        prod = self.read_prod(collection).where(
            F.col("table_name") == table_name
        )
        desc = None
        if "table_description" in prod.columns:
            rows = prod.select("table_description").limit(1).collect()
            desc = rows[0][0] if rows else None
        self._description_cache[(collection, table_name)] = (token, desc)
        return desc
