"""Parquet-backed warehouse: versioned ingest, snapshot staging, metadata.

Layout (under one warehouse root):

    raw/{collection}/        append-only fact data, partitioned by
                             table_name (partition pruning for the
                             mandatory per-query table_name predicate)
    prod/{collection}/snap-{n}/
                             one immutable staged snapshot, partitioned
                             by table_name, with a persisted monotone
                             ``row_uid`` per partition for cursor
                             pagination, and its column catalog in
                             ``_catalog.parquet``
    system/{collection}/staged_manifest.json
                             the committed snapshot id, each table's
                             winner ingest_id and partition dir, and
                             the takedown seq prod reflects
    system/{collection}/ingest_log/   version store (append-only)

Every prod write (stage, prod compaction) builds a NEW snapshot dir:
Spark writes the changed tables, the files of unchanged tables are
hard-linked from the committed snapshot (no bytes copied), and the
catalog is written into it. One ``os.replace`` of the staged manifest
then commits data and catalog together, and every entry of
``prod/{collection}/`` but the new snapshot and the one it replaced
is deleted, which also clears what a crashed write left behind. ``n``
is one past every id in use, never reused, so every memo keys on the
snapshot id. A prod staged before snapshots existed has no id in its
manifest: it is not served, and the next stage restages it in full.

Spark reads and writes the fact data only. The ingest log and the
catalog are a handful of rows per ingest, so the driver reads and
writes them with pyarrow and no Spark job (a Spark write of a one-row
file cost about a second, a Spark ``max`` over the log half a second).
``ingest_log/`` holds one file per append, named
``{ingest_id:012d}-{success}.parquet`` (``000000000000-empty.parquet``
for the empty log ``etl.process.initialize`` creates); each driver
file is written as ``.{name}.tmp`` and ``os.replace``d into place.
Logs Spark wrote before this layout still read: Spark stored
``ingest_ts`` as INT96 (``timestamp[ns]`` in pyarrow) where the driver
writes ``timestamp[us, tz=UTC]``, and a whole-directory read fails on
that mix, so each file is read on its own and cast.

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
#: a snapshot's catalog file; Spark's file listing skips ``_`` names
_CATALOG_FILE = "_catalog.parquet"
_SNAP = "snap-"
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


def _n_files(path: str) -> int:
    """Visible parquet data files in one partition dir."""
    return len(_parquet_files(path))


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
        # Per-snapshot memos of the driver-side probes: (collection,
        # table_name) -> (snapshot id, value), and collection ->
        # (snapshot id, prod frame). A snapshot never changes once
        # committed, so an entry is exact until the manifest names
        # another id — in this process or any other.
        self._queryable_cache: dict[tuple[str, str], tuple[int | None, set[str]]] = {}
        self._description_cache: dict[tuple[str, str], tuple[int, str | None]] = {}
        self._prod_frame_cache: dict[str, tuple[int, DataFrame]] = {}

    # ------------------------------------------------------------ paths

    def raw_path(self, collection: str) -> str:
        return os.path.join(self.root, "raw", collection)

    def prod_path(self, collection: str) -> str:
        """The dir holding the collection's ``snap-{n}`` snapshots."""
        return os.path.join(self.root, "prod", collection)

    def snapshot_path(self, collection: str, snap: int | None = None) -> str:
        """Dir of snapshot *snap* (default: the committed one)."""
        snap = self.snapshot(collection) if snap is None else snap
        return os.path.join(self.prod_path(collection), f"{_SNAP}{snap}")

    def log_path(self, collection: str) -> str:
        return os.path.join(self.root, "system", collection, "ingest_log")

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

    def snapshot(self, collection: str) -> int | None:
        """Id of the committed prod snapshot; None when nothing is
        staged (or prod predates snapshots)."""
        return (self._read_manifest(collection) or {}).get("snapshot")

    def is_staged(self, collection: str) -> bool:
        return self.snapshot(collection) is not None

    # ------------------------------------------------------------- read

    def read_raw(self, collection: str) -> DataFrame:
        return self.spark.read.parquet(self.raw_path(collection))

    def read_prod(self, collection: str, snap: int | None = None) -> DataFrame:
        """Prod snapshot *snap* (default: the committed one). The
        DataFrame (an immutable logical plan over the snapshot's file
        listing) is memoized per snapshot id: re-creating it per page
        re-runs parquet schema/footer probing — a whole Spark job of
        pure overhead on the interactive path."""
        snap = self.snapshot(collection) if snap is None else snap
        if snap is None:
            raise StagingError(f"'{collection}' is not staged")
        cached = self._prod_frame_cache.get(collection)
        if cached is not None and cached[0] == snap:
            return cached[1]
        df = self.spark.read.parquet(self.snapshot_path(collection, snap))
        self._prod_frame_cache[collection] = (snap, df)
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

    def metadata_rows(
        self, collection: str, snap: int | None = None
    ) -> list[dict]:
        """The metadata catalog of prod snapshot *snap* (default: the
        committed one), read on the driver; empty when nothing is
        staged."""
        snap = self.snapshot(collection) if snap is None else snap
        if snap is None:
            return []
        path = os.path.join(self.snapshot_path(collection, snap), _CATALOG_FILE)
        return _read_rows([path], _META_ARROW)

    def read_metadata(self, collection: str) -> DataFrame:
        return self._frame(self.metadata_rows(collection), META_SCHEMA)

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
        """Staged manifest: the committed ``snapshot`` id, the winner
        ingest_id and partition dir of each staged table_name, and the
        ``takedown_seq`` prod reflects. None = nothing staged."""
        try:
            with open(self.manifest_path(collection)) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def _write_manifest(self, collection: str, manifest: dict) -> None:
        path = self.manifest_path(collection)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + "__tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
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

    def _next_snapshot(self, collection: str, current: int | None) -> int:
        """One past the committed id and every ``snap-{n}`` on disk, so
        no id is reused — not even one a crashed write left behind."""
        prod = self.prod_path(collection)
        names = os.listdir(prod) if os.path.isdir(prod) else []
        ids = [int(n[len(_SNAP):]) for n in names
               if n.startswith(_SNAP) and n[len(_SNAP):].isdigit()]
        return max([current or 0, *ids]) + 1

    @staticmethod
    def _link(src: str, dst: str, names: list[str]) -> None:
        """Hard-link the files and partition dirs *names* of snapshot
        dir *src* into *dst*: what did not change moves to the next
        snapshot with no bytes copied."""
        for name in names:
            s, d = os.path.join(src, name), os.path.join(dst, name)
            if os.path.isdir(s):
                os.makedirs(d)
                for f in os.listdir(s):
                    os.link(os.path.join(s, f), os.path.join(d, f))
            else:
                os.link(s, d)

    def _commit(
        self, collection: str, manifest: dict, replaced: int | None
    ) -> None:
        """Commit the snapshot *manifest* names with one rename, then
        delete every entry of prod/{collection} but that snapshot and
        the one it *replaced* (a reader that resolved the old manifest
        may still be listing it). That also clears what a crashed
        write left behind, and a layout from before snapshots."""
        self._write_manifest(collection, manifest)
        keep = {f"{_SNAP}{manifest['snapshot']}", f"{_SNAP}{replaced}"}
        prod = self.prod_path(collection)
        for name in set(os.listdir(prod)) - keep:
            path = os.path.join(prod, name)
            (shutil.rmtree if os.path.isdir(path) else os.remove)(path)

    def stage(
        self,
        schema: CollectionSchema,
        as_of: datetime | str | None = None,
        takedown: dict | None = None,
    ) -> list[str]:
        """Bring prod to the latest successful version of each
        table_name with ingest_ts ≤ *as_of* (queens/core/
        read_write.py:340-404), with its metadata catalog, as a new
        committed snapshot (see the module docstring).

        The reference's `MAX(ingest_ts) GROUP BY table_name` CTE +
        double join collapses to a driver-side pick over the resolved
        log (:meth:`winners`); raw is then filtered to the winning
        ingest_ids, whose timestamps and descriptions ride in as
        literals. Returns the table names of the manifest it writes,
        and pre-fills the ``queryable_columns`` and
        ``table_description`` memos, so the first page after a stage
        runs one Spark job.

        INCREMENTAL: the staged manifest records which winner
        ingest_id each prod table reflects, so a stage writes ONLY
        the tables whose winner changed (an ``as_of`` cutoff may also
        roll a table out) and hard-links the others' files — at
        100 TB, staging after one table's ingest is O(that table), not
        a full prod rebuild + renumber (a first stage is one in which
        every table changed). Sound because every per-table
        artifact is independent: row_uid numbering is per-table by
        construction (see with_row_uid — partition chunks offset
        within table_name), and the metadata catalog groups by
        table_name, so unchanged tables' files and catalog rows are
        byte-identical either way. Nothing the committed snapshot
        holds is touched, so a crash at any step leaves it serving,
        and the next stage starts over.

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

        manifest = self._read_manifest(collection) or {}
        current = manifest.get("snapshot")
        prev = manifest.get("tables", {}) if current is not None else {}
        td_seq = int((takedown or {}).get("seq", 0))
        prev_td_seq = int(manifest.get("takedown_seq", 0))
        changed_set = {
            t for t, r in winners.items()
            if prev.get(t, {}).get("ingest_id") != r["ingest_id"]
        }
        if takedown is not None and td_seq != prev_td_seq:
            # takedown-affected tables re-filter even when their
            # winner version did not change
            changed_set |= set(takedown.get("changed_tables") or ()) & set(
                winners
            )
        changed = sorted(changed_set)
        kept = {t: e for t, e in prev.items()
                if t in winners and t not in changed_set}

        if len(kept) == len(prev) and not changed:
            if td_seq != prev_td_seq:
                # e.g. a purge cleared every live segment: nothing to
                # rewrite, but record the new seq so later stages stop
                # diffing against a stale takedown state
                self._write_manifest(
                    collection, dict(manifest, takedown_seq=td_seq)
                )
            return sorted(winners)

        snap = self._next_snapshot(collection, current)
        out = self.snapshot_path(collection, snap)
        if changed:
            self._write_changed(collection, changed, winners, takedown, out)
        os.makedirs(out, exist_ok=True)
        written = self._partition_dirs(out)  # a zero-row winner drops out
        tables = {
            t: {"ingest_id": winners[t]["ingest_id"], "dir": written[t]}
            for t in changed if t in written
        }
        old = self.snapshot_path(collection, current)
        self._link(old, out, [e["dir"] for e in kept.values()])
        catalog = self.refresh_metadata(
            schema, snap, sorted(tables),
            [r for r in self.metadata_rows(collection, current)
             if r["table_name"] in kept],
        )
        tables.update(kept)
        self._commit(
            collection,
            {"snapshot": snap, "tables": tables, "takedown_seq": td_seq},
            current,
        )
        # every staged row carries its winner's description, and the
        # catalog just written answers every queryable_columns probe,
        # so the first page after this stage needs no probe job
        for t in tables:
            self._description_cache[(collection, t)] = (
                snap, winners[t]["table_description"]
            )
            self._queryable_cache[(collection, t)] = (
                snap, {r["column_name"] for r in catalog if r["table_name"] == t}
            )
        return sorted(tables)

    def _write_changed(self, collection: str, changed: list[str],
                       winners: dict, takedown: dict | None, out: str) -> None:
        """Spark-write the winner rows of the *changed* tables, numbered
        and less a pending takedown's rows, into snapshot dir *out*."""
        # partition pruning: unchanged table_name partitions of raw
        # are never even read
        raw = self.read_raw(collection).where(F.col("table_name").isin(changed))
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

        staged.write.partitionBy("table_name").parquet(out)

    def _rewrite_raw(self, collection: str, rewrite) -> dict[str, tuple[int, int]]:
        """Replace raw partitions one at a time with the frame
        ``rewrite(table_name, partition_dir)`` returns (None: leave it
        unread); returns {table_name: (files_before, files_after)}.
        Each rewrite lands in full in a holding dir beside the raw root
        and swaps in with two renames, the old partition parked INSIDE
        the holding dir (beside the live ones, partition discovery
        would read it as data). A rerun first moves back every parked
        partition whose live dir is missing — after a crash between
        the two renames it is the only copy."""
        root = self.raw_path(collection)
        hold = root + "__compact_tmp"
        if os.path.isdir(hold):
            if not os.path.isdir(root):
                raise StagingError(
                    f"'{collection}' raw root missing but {hold} exists — "
                    "restore manually before rewriting"
                )
            for entry in os.listdir(hold):
                live = os.path.join(root, entry.removesuffix("__old"))
                if entry.endswith("__old") and not os.path.isdir(live):
                    os.replace(os.path.join(hold, entry), live)
            shutil.rmtree(hold)
        if not self._exists(root):
            raise StagingError(f"'{collection}' has no raw data")
        report: dict[str, tuple[int, int]] = {}
        for t, entry in sorted(self._partition_dirs(root).items()):
            src = os.path.join(root, entry)
            n_before = _n_files(src)
            df = rewrite(t, src)
            if df is None:
                continue
            tmp = os.path.join(hold, entry)
            df.write.parquet(tmp)
            if not _n_files(tmp):
                # every row gone: AQE coalesces an empty frame to zero
                # tasks → zero part files, which a later read of this
                # partition dir cannot infer a schema from; force one
                # empty part file carrying the schema
                df.limit(0).repartition(1).write.mode("overwrite").parquet(tmp)
            os.replace(src, os.path.join(hold, entry + "__old"))
            os.replace(tmp, src)
            report[t] = (n_before, _n_files(src))
        shutil.rmtree(hold, ignore_errors=True)
        return report

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
        — untouched partitions are never read; each partition swaps in
        as :meth:`_rewrite_raw` describes. Returns the tables actually
        rewritten."""
        if not self._exists(self.raw_path(collection)):
            return []

        def survivors(t: str, src: str) -> DataFrame | None:
            if t not in tables:
                return None
            df = self.spark.read.parquet(src)
            if id_col not in df.columns or "ingest_id" not in df.columns:
                return None
            return df.join(
                retired,
                (df[id_col] == retired[id_col])
                & (df["ingest_id"] <= retired["__covers"]),
                "left_anti",
            )

        return sorted(self._rewrite_raw(collection, survivors))

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

        Prod compaction commits a new snapshot as :meth:`stage` does,
        rewriting the fragmented tables and hard-linking the other
        tables and the catalog; raw partitions swap in one at a time
        (:meth:`_rewrite_raw`). Partitions already at or below the
        target are not even opened."""
        if target_files < 1:
            raise ValueError(f"target_files must be ≥ 1, got {target_files}")
        if which not in ("prod", "raw"):
            raise ValueError(f"which must be 'prod' or 'raw', got {which!r}")
        if which == "raw":
            return self._rewrite_raw(
                collection,
                lambda t, src: (
                    self.spark.read.parquet(src).coalesce(target_files)
                    if _n_files(src) > target_files else None
                ),
            )
        manifest = self._read_manifest(collection) or {}
        current = manifest.get("snapshot")
        if current is None:
            raise StagingError(f"'{collection}' is not staged")
        old = self.snapshot_path(collection, current)
        before = {e["dir"]: _n_files(os.path.join(old, e["dir"]))
                  for e in manifest["tables"].values()}
        frag = {t: e["dir"] for t, e in manifest["tables"].items()
                if before[e["dir"]] > target_files}
        if not frag:
            return {}
        snap = self._next_snapshot(collection, current)
        out = self.snapshot_path(collection, snap)
        report = {}
        for t, entry in sorted(frag.items()):
            (
                self.spark.read.parquet(os.path.join(old, entry))
                .coalesce(target_files)
                .write.parquet(os.path.join(out, entry))
            )
            report[t] = (before[entry], _n_files(os.path.join(out, entry)))
        self._link(
            old, out,
            [e for e in before if e not in frag.values()] + [_CATALOG_FILE],
        )
        self._commit(collection, dict(manifest, snapshot=snap), current)
        return report

    def refresh_metadata(
        self,
        schema: CollectionSchema,
        snap: int,
        tables: list[str],
        kept: list[dict],
    ) -> list[dict]:
        """Write the catalog of prod snapshot *snap* and return its
        rows: the *kept* rows of the tables linked unchanged, plus
        per-(table_name, column) stats of *tables* from ONE pass over
        their partitions — count + exact distinct per column, unpivoted
        to long on the driver, keeping only populated columns (all-null
        columns are absent → not queryable,
        queens/etl/validation.py:218-220). Stats are a per-table
        groupBy, so the merged catalog equals a full rebuild. The read
        goes through :meth:`read_prod`, so the first page of the new
        snapshot finds its frame memoized."""
        rows = list(kept)
        if tables:
            prod = self.read_prod(schema.name, snap).where(
                F.col("table_name").isin(tables)
            )
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
            rows += [
                {
                    "data_collection": schema.name,
                    "table_name": w["table_name"],
                    "column_name": c, "n_non_nulls": w[f"nn__{c}"],
                    "n_unique": w[f"nu__{c}"], "dtype": dtypes[c],
                }
                for w in prod.groupBy("table_name").agg(*aggs).collect()
                for c in cols if w[f"nn__{c}"] > 0
            ]
        _write_rows(self.snapshot_path(schema.name, snap), _CATALOG_FILE,
                    rows, _META_ARROW)
        return rows

    def queryable_columns(
        self, collection: str, table_name: str, snap: int | None = None
    ) -> set[str]:
        """Populated-column set for one staged table of snapshot *snap*
        (default: the committed one), memoized per snapshot so
        repeated pages never re-read the catalog."""
        snap = self.snapshot(collection) if snap is None else snap
        cached = self._queryable_cache.get((collection, table_name))
        if cached is not None and cached[0] == snap:
            return cached[1]
        cols = {
            r["column_name"] for r in self.metadata_rows(collection, snap)
            if r["table_name"] == table_name
        }
        self._queryable_cache[(collection, table_name)] = (snap, cols)
        return cols

    def table_description(self, collection: str, table_name: str) -> str | None:
        """Description of the STAGED version of *table_name*, memoized
        per prod snapshot (the reference returns it with every data
        page, queens/api/app.py:170-185 — at interactive QPS an
        uncached LIMIT 1 scan per page is driver-bound). Read from prod
        rather than the ingest log so an ``as_of`` staging cutoff and
        the page body can never disagree."""
        snap = self.snapshot(collection)
        cached = self._description_cache.get((collection, table_name))
        if cached is not None and cached[0] == snap:
            return cached[1]
        prod = self.read_prod(collection, snap).where(
            F.col("table_name") == table_name
        )
        desc = None
        if "table_description" in prod.columns:
            rows = prod.select("table_description").limit(1).collect()
            desc = rows[0][0] if rows else None
        self._description_cache[(collection, table_name)] = (snap, desc)
        return desc
