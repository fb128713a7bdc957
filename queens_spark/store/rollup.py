"""Incremental materialized rollups: registered GROUP-BY aggregates
maintained O(batch) inside ingest and served without touching raw
data volume.

The classic engine feature this adds is incremental view maintenance
(IVM) for the warehouse's append-with-replacement model: a registered
rollup (keys + value columns) keeps one PARTIAL-AGGREGATE segment per
ingest — sum/count/min/max are associative, so folding a new batch in
is one partial aggregation of that batch, never a re-scan — and a
query merges the segments of exactly the ingests that WIN staging's
latest-version-per-table rule. That last part is what makes this
correct here: the warehouse replaces a re-ingested table_name at
stage time (queens/core/read_write.py:340-404 semantics), so a naive
accumulate-everything rollup would double-count superseded versions.
Keeping partials per (ingest_id, table_name) and selecting winners at
serve time gives:

- ingest cost O(batch): one partial agg of the new frame (read back
  from raw with a pushed table_name partition filter, so the rollup
  reflects exactly the coerced bytes that landed);
- serve cost O(winning segments × key cardinality): counter-width
  unions, never a raw scan;
- full time travel: ``as_of`` replays the same winner rule the stager
  uses;
- crash safety WITHOUT coordination: the raw write + flip-flag log is
  the source of truth; a crash between the log flip and the rollup
  write just leaves a missing segment, which serving REPAIRS lazily
  from raw (the identical read-back path), and a retried update
  overwrites its own ingest_id dir (idempotent).

Sums accumulate in the column's own type; floating-point columns can
differ from a direct single-pass aggregate in the last ulp (partial
sums reassociate) — register DECIMAL/INTEGER columns where exactness
matters, the CLAUDE.md money rule.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

REGISTRY_NAME = "rollup_registry.json"

__all__ = [
    "register_rollup",
    "registered_rollups",
    "update_rollup_segment",
    "serve_rollup",
    "missing_segments",
    "gc_rollup_segments",
]


def _registry_path(rollups_dir: str, collection: str) -> str:
    return os.path.join(rollups_dir, collection, REGISTRY_NAME)


def _read_registry(rollups_dir: str, collection: str) -> dict:
    try:
        with open(_registry_path(rollups_dir, collection)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _write_registry(rollups_dir: str, collection: str, reg: dict) -> None:
    d = os.path.join(rollups_dir, collection)
    os.makedirs(d, exist_ok=True)
    tmp = _registry_path(rollups_dir, collection) + "__tmp"
    with open(tmp, "w") as fh:
        json.dump(reg, fh, sort_keys=True)
    os.replace(tmp, _registry_path(rollups_dir, collection))


def register_rollup(
    rollups_dir: str,
    collection: str,
    name: str,
    keys: list[str],
    values: list[str],
) -> dict:
    """Persist a rollup spec. *keys* are the GROUP BY columns, each
    *values* column gets sum/min/max partials (plus the shared row
    count). Registration is idempotent for an identical spec and
    refuses a silent redefinition."""
    if not keys or not values:
        raise ValueError("rollup needs at least one key and one value")
    reg = _read_registry(rollups_dir, collection)
    spec = {"keys": list(keys), "values": list(values)}
    if name in reg and reg[name] != spec:
        raise ValueError(
            f"rollup {name!r} already registered with a different spec "
            f"{reg[name]}; unregister it first"
        )
    reg[name] = spec
    _write_registry(rollups_dir, collection, reg)
    return spec


def registered_rollups(rollups_dir: str, collection: str) -> dict:
    return _read_registry(rollups_dir, collection)


def _segment_dir(
    rollups_dir: str, collection: str, name: str, ingest_id: int
) -> str:
    return os.path.join(
        rollups_dir, collection, name, "segments", f"ingest_{int(ingest_id):09d}"
    )


def _partial_agg(df: DataFrame, spec: dict) -> DataFrame:
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows__p")]
    for v in spec["values"]:
        aggs += [
            F.sum(v).alias(f"{v}__sum"),
            F.min(v).alias(f"{v}__min"),
            F.max(v).alias(f"{v}__max"),
        ]
    return df.groupBy(*spec["keys"]).agg(*aggs)


def update_rollup_segment(
    raw_batch: DataFrame,
    rollups_dir: str,
    collection: str,
    name: str,
    ingest_id: int,
) -> None:
    """Fold one ingest's frame into the rollup as its own partial
    segment. Overwrite mode keys the write on ingest_id, so a retried
    ingest (or a lazy repair racing a retry) converges to the same
    bytes instead of duplicating."""
    spec = _read_registry(rollups_dir, collection).get(name)
    if spec is None:
        raise KeyError(f"no rollup {name!r} registered for {collection!r}")
    _partial_agg(raw_batch, spec).write.mode("overwrite").parquet(
        _segment_dir(rollups_dir, collection, name, ingest_id)
    )


def _winner_ingests(warehouse, collection: str, as_of=None) -> list[dict]:
    """(table_name, ingest_id) staging winners — the same
    latest-successful-version rule Warehouse.stage applies, over the
    tiny resolved log."""
    return [
        {"table_name": t, "ingest_id": int(r["ingest_id"])}
        for t, r in warehouse.winners(collection, as_of).items()
    ]


def missing_segments(
    warehouse, rollups_dir: str, collection: str, name: str, as_of=None
) -> list[dict]:
    """Winning ingests with no persisted partial segment (a crash
    between the ingest-log flip and the rollup write, or ingests that
    predate the rollup's registration)."""
    return [
        wi
        for wi in _winner_ingests(warehouse, collection, as_of)
        if not os.path.exists(
            os.path.join(
                _segment_dir(rollups_dir, collection, name, wi["ingest_id"]),
                "_SUCCESS",
            )
        )
    ]


def serve_rollup(
    spark: SparkSession,
    warehouse,
    rollups_dir: str,
    collection: str,
    name: str,
    as_of=None,
    repair: bool = True,
) -> DataFrame:
    """The rollup over exactly the data staging would serve at
    *as_of*: merge the winning ingests' partial segments (counter-
    width union + one re-aggregation). Winners without a segment are
    repaired from raw first (pushed table_name partition filter +
    ingest_id predicate — O(that batch), and the repaired segment
    persists, so the lazy path pays once)."""
    spec = _read_registry(rollups_dir, collection).get(name)
    if spec is None:
        raise KeyError(f"no rollup {name!r} registered for {collection!r}")
    winners = _winner_ingests(warehouse, collection, as_of)
    if not winners:
        raise ValueError(f"no successful ingests for {collection!r}")
    if repair:
        for wi in missing_segments(
            warehouse, rollups_dir, collection, name, as_of
        ):
            batch = warehouse.read_raw(collection).where(
                (F.col("table_name") == wi["table_name"])
                & (F.col("ingest_id") == wi["ingest_id"])
            )
            update_rollup_segment(
                batch, rollups_dir, collection, name, wi["ingest_id"]
            )
    paths = [
        _segment_dir(rollups_dir, collection, name, wi["ingest_id"])
        for wi in winners
    ]
    partials = spark.read.parquet(*sorted(set(paths)))
    merged = [F.sum("n_rows__p").cast("bigint").alias("n_rows")]
    for v in spec["values"]:
        merged += [
            F.sum(f"{v}__sum").alias(f"{v}_sum"),
            F.min(f"{v}__min").alias(f"{v}_min"),
            F.max(f"{v}__max").alias(f"{v}_max"),
        ]
    return partials.groupBy(*spec["keys"]).agg(*merged)


def gc_rollup_segments(
    warehouse, rollups_dir: str, collection: str
) -> dict[str, int]:
    """Bounded growth for the per-ingest segment dirs: delete every
    partial segment whose ingest is NOT a current staging winner
    (superseded table versions). Safe by the same argument as lazy
    repair — raw retains every ingest, so serving an ``as_of`` that
    needs a GC'd segment rebuilds it on demand through the identical
    read-back path; current-time serving never touches a loser.
    Returns {rollup_name: segments_removed}."""
    import re
    import shutil

    reg = _read_registry(rollups_dir, collection)
    if not reg:
        return {}
    winners = {
        wi["ingest_id"] for wi in _winner_ingests(warehouse, collection)
    }
    removed: dict[str, int] = {}
    for name in reg:
        segs_root = os.path.join(rollups_dir, collection, name, "segments")
        if not os.path.isdir(segs_root):
            continue
        n = 0
        for d in os.listdir(segs_root):
            m = re.fullmatch(r"ingest_(\d+)", d)
            if m and int(m.group(1)) not in winners:
                path = os.path.join(segs_root, d)
                # drop the _SUCCESS sentinel FIRST: if the tree
                # removal then fails partway, the segment reads as
                # missing (not as corrupt-but-complete) and the lazy
                # repair path rebuilds it from raw
                try:
                    os.remove(os.path.join(path, "_SUCCESS"))
                except OSError:
                    pass
                shutil.rmtree(path, ignore_errors=True)
                if not os.path.exists(path):
                    n += 1
        removed[name] = n
    return removed
