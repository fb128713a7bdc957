"""Incremental staging: re-staging after one table's ingest must
rewrite ONLY that table's prod partition (O(changed data) — at 100 TB
a full prod rebuild per stage() is the last O(everything) write in the
core), while staying observationally identical to a full restage:
same winners, same row_uid numbering, same metadata catalog.
"""

import os
from datetime import datetime

import pytest
from pyspark.sql import Row

from queens_spark.facade import Engine


def _rows(tag: str, years=(2020, 2021), fuels=("Gas", "coal")):
    rows, i = [], 0
    for y in years:
        for f in fuels:
            rows.append(Row(row=i, label=f"{f} {tag}", year=y, fuel=f,
                            group="Supply", unit="ktoe", value=float(i + 1)))
            i += 1
    return rows


def _file_state(part_dir: str) -> dict[str, tuple[int, int, int]]:
    """name -> (size, mtime_ns, inode) for every data file in a
    partition: an unchanged table's files are hard-linked into the next
    snapshot, so even the inode stays the same."""
    out = {}
    for f in os.listdir(part_dir):
        if not f.startswith((".", "_")):
            st = os.stat(os.path.join(part_dir, f))
            out[f] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def _live(engine, table: str) -> str:
    """The partition dir of *table* in the committed snapshot. Resolve
    it again after every stage: a path taken before a restage names
    the previous snapshot."""
    wh = engine.warehouse
    prod = wh.snapshot_path("dukes")
    return os.path.join(prod, wh._partition_dirs(prod)[table])


@pytest.fixture()
def engine(spark, warehouse_root):
    return Engine(spark, warehouse_root)


@pytest.mark.slow
def test_restage_leaves_unchanged_partitions_untouched(spark, engine):
    engine.ingest(spark.createDataFrame(_rows("a1")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.ingest(spark.createDataFrame(_rows("b1")), "dukes", "1.2",
                  ingest_ts=datetime(2024, 1, 2))
    assert engine.stage("dukes") == ["1.1", "1.2"]

    prod = engine.warehouse.snapshot_path("dukes")
    assert set(engine.warehouse._partition_dirs(prod)) == {"1.1", "1.2"}
    before_a = _file_state(_live(engine, "1.1"))
    before_b = _file_state(_live(engine, "1.2"))
    assert before_a and before_b

    # ingest a new version of ONLY table 1.2 and re-stage
    engine.ingest(spark.createDataFrame(_rows("b2")), "dukes", "1.2",
                  ingest_ts=datetime(2024, 6, 1))
    assert engine.stage("dukes") == ["1.1", "1.2"]

    assert engine.warehouse.snapshot_path("dukes") != prod
    after_a = _file_state(_live(engine, "1.1"))
    after_b = _file_state(_live(engine, "1.2"))
    assert after_a == before_a, "unchanged table's files were rewritten"
    assert after_b != before_b, "changed table's partition was not rewritten"

    # the staged data reflects the new winner; the untouched table's
    # rows (incl. row_uid pagination keys) still read correctly
    labels_b = {r["label"] for r in engine.query("dukes", "1.2").collect()}
    assert all("b2" in l for l in labels_b)
    labels_a = {r["label"] for r in engine.query("dukes", "1.1").collect()}
    assert all("a1" in l for l in labels_a)

    # metadata catalog merged incrementally == full-rebuild content
    meta = engine.warehouse.read_metadata("dukes")
    got = {
        (r["table_name"], r["column_name"]): (r["n_non_nulls"], r["n_unique"])
        for r in meta.collect()
    }
    # with no staged manifest the next stage rebuilds every table
    os.remove(engine.warehouse.manifest_path("dukes"))
    assert engine.stage("dukes") == ["1.1", "1.2"]
    assert _file_state(_live(engine, "1.1")) != after_a
    full = {
        (r["table_name"], r["column_name"]): (r["n_non_nulls"], r["n_unique"])
        for r in engine.warehouse.read_metadata("dukes").collect()
    }
    assert got == full


def test_noop_restage_is_free_and_stable(spark, engine):
    engine.ingest(spark.createDataFrame(_rows("a1")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.stage("dukes")
    snap = engine.warehouse.snapshot("dukes")
    before = _file_state(_live(engine, "1.1"))
    # nothing new ingested: stage() must not rewrite anything, nor
    # commit a new snapshot
    assert engine.stage("dukes") == ["1.1"]
    assert engine.warehouse.snapshot("dukes") == snap
    assert _file_state(_live(engine, "1.1")) == before


@pytest.mark.slow
def test_as_of_rollback_rewrites_only_rolled_table(spark, engine):
    engine.ingest(spark.createDataFrame(_rows("a1")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.ingest(spark.createDataFrame(_rows("b1")), "dukes", "1.2",
                  ingest_ts=datetime(2024, 1, 2))
    engine.ingest(spark.createDataFrame(_rows("b2")), "dukes", "1.2",
                  ingest_ts=datetime(2024, 6, 1))
    engine.stage("dukes")
    snap = engine.warehouse.snapshot("dukes")
    before_a = _file_state(_live(engine, "1.1"))

    # roll table 1.2 back to its January version; 1.1's winner is
    # unchanged so its files must survive byte-identical
    engine.stage("dukes", as_of=datetime(2024, 3, 1))
    assert engine.warehouse.snapshot("dukes") != snap
    assert _file_state(_live(engine, "1.1")) == before_a
    labels_b = {r["label"] for r in engine.query("dukes", "1.2").collect()}
    assert all("b1" in l for l in labels_b)


def test_as_of_before_table_exists_removes_it(spark, engine):
    engine.ingest(spark.createDataFrame(_rows("a1")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.ingest(spark.createDataFrame(_rows("b1")), "dukes", "1.2",
                  ingest_ts=datetime(2024, 5, 1))
    engine.stage("dukes")
    # cutoff before 1.2's first ingest: the table drops out of prod
    assert engine.stage("dukes", as_of=datetime(2024, 3, 1)) == ["1.1"]
    prod = engine.warehouse.snapshot_path("dukes")
    assert set(engine.warehouse._partition_dirs(prod)) == {"1.1"}
    with pytest.raises(KeyError):
        engine.query("dukes", "1.2")
