"""The driver-side system tables: the ingest log and the metadata
catalog are read and written with pyarrow, never through Spark.

Pins that logs Spark wrote earlier (INT96 timestamps, part files,
``_SUCCESS`` markers) still resolve beside driver-written files, that
the flip-flag protocol survives a crash between its two log writes,
and that ``ingest_ts`` keeps microsecond precision through ``as_of``.
"""

import os
import shutil
from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row

from queens_spark.etl.process import initialize
from queens_spark.facade import Engine
from queens_spark.store.warehouse import LOG_SCHEMA, Warehouse


def fact_rows(tag: str):
    return [
        Row(row=i, label=f"{f} {tag}", year=y, fuel=f, group="Supply",
            unit="ktoe", value=float(i + 1))
        for i, (y, f) in enumerate(
            (y, f) for y in (2020, 2021) for f in ("Gas", "coal")
        )
    ]


@pytest.fixture()
def engine(spark, warehouse_root):
    return Engine(spark, warehouse_root)


def _ingest(spark, engine, tag, table="1.1", ts=datetime(2024, 1, 1)):
    return engine.ingest(spark.createDataFrame(fact_rows(tag)), "dukes",
                         table, ingest_ts=ts)


def _spark_log_append(spark, path, rows):
    """A log append the way Spark-era code wrote it."""
    spark.createDataFrame(
        [tuple(r[f.name] for f in LOG_SCHEMA.fields) for r in rows], LOG_SCHEMA
    ).coalesce(1).write.mode("append").parquet(path)


def _versions(engine):
    return sorted(tuple(r) for r in engine.get_versions("dukes").collect())


def test_legacy_spark_log_resolves_beside_driver_files(spark, engine):
    wh = engine.warehouse
    _ingest(spark, engine, "a1", ts=datetime(2024, 1, 1, 8, 0, 0, 250000))
    _ingest(spark, engine, "b1", table="1.2", ts=datetime(2024, 2, 1))
    versions, next_id = _versions(engine), wh.next_ingest_id("dukes")
    winners = wh.winners("dukes")

    # rewrite the same log the Spark way: initialize()'s empty file,
    # then one part file per flip-flag append
    log = wh.log_path("dukes")
    flips = [dict(r.asDict(), success=s)
             for r in engine.get_versions("dukes").collect() for s in (0, 1)]
    shutil.rmtree(log)
    spark.createDataFrame([], LOG_SCHEMA).coalesce(1).write.mode(
        "append").parquet(log)
    for r in sorted(flips, key=lambda r: (r["ingest_id"], r["success"])):
        _spark_log_append(spark, log, [r])
    assert all(f.startswith("part-")
               for f in os.listdir(log) if f.endswith(".parquet"))
    assert _versions(engine) == versions
    assert wh.next_ingest_id("dukes") == next_id
    assert wh.winners("dukes") == winners

    # a driver-written append lands beside the Spark files
    new_id = _ingest(spark, engine, "a2", ts=datetime(2024, 3, 1))
    assert new_id == next_id
    assert f"{new_id:012d}-1.parquet" in os.listdir(log)
    assert wh.next_ingest_id("dukes") == next_id + 1
    assert engine.stage("dukes") == ["1.1", "1.2"]
    labels = {r["label"] for r in engine.query("dukes", "1.1").collect()}
    assert all("a2" in l for l in labels)
    # a fresh process over the same root resolves the same log
    fresh = Warehouse(spark, wh.root)
    assert fresh.log_rows("dukes") == wh.log_rows("dukes")


def test_initialize_writes_empty_driver_files(spark, engine):
    assert initialize(engine, ["dukes"]) is True
    wh = engine.warehouse
    assert os.listdir(wh.log_path("dukes")) == ["000000000000-empty.parquet"]
    # nothing is staged, so the catalog reads empty without a file
    assert wh.metadata_rows("dukes") == []
    assert wh.read_log("dukes").count() == 0
    assert wh.read_metadata("dukes").count() == 0
    assert wh.next_ingest_id("dukes") == 1
    assert initialize(engine, ["dukes"]) is False
    assert _ingest(spark, engine, "v1") == 1


def test_crash_after_success0_stays_invisible(spark, engine, monkeypatch):
    wh = engine.warehouse
    first = _ingest(spark, engine, "v1")
    real_append = Warehouse._append_log

    def crash_on_flip(self, collection, rows):
        if rows and rows[0]["success"] == 1:
            raise RuntimeError("crash before the success flip")
        real_append(self, collection, rows)

    monkeypatch.setattr(Warehouse, "_append_log", crash_on_flip)
    with pytest.raises(RuntimeError, match="crash"):
        _ingest(spark, engine, "v2", ts=datetime(2024, 6, 1))
    monkeypatch.undo()

    crashed = first + 1
    assert sorted(os.listdir(wh.log_path("dukes"))) == [
        f"{first:012d}-0.parquet", f"{first:012d}-1.parquet",
        f"{crashed:012d}-0.parquet",
    ]
    # the takedown coverage bound (next id - 1) is the max LOGGED id,
    # success=0 markers included
    assert wh.next_ingest_id("dukes") - 1 == crashed
    assert {t: r["ingest_id"] for t, r in wh.winners("dukes").items()} == {
        "1.1": first
    }
    engine.stage("dukes")
    labels = {r["label"] for r in engine.query("dukes", "1.1").collect()}
    assert all("v1" in l for l in labels)
    assert _ingest(spark, engine, "v3", ts=datetime(2024, 7, 1)) == crashed + 1


def test_ingest_ts_round_trips_exactly_through_as_of(spark, engine):
    ts_old = datetime(2024, 1, 1)
    ts = datetime(2024, 3, 1, 12, 30, 45, 123457)
    _ingest(spark, engine, "old", ts=ts_old)
    new_id = _ingest(spark, engine, "new", ts=ts)
    got = {r["ingest_id"]: r["ingest_ts"]
           for r in engine.get_versions("dukes").collect()}
    assert got[new_id] == ts

    engine.stage("dukes", as_of=ts - timedelta(microseconds=1))
    labels = {r["label"] for r in engine.query("dukes", "1.1").collect()}
    assert all("old" in l for l in labels)
    engine.stage("dukes", as_of=ts)
    labels = {r["label"] for r in engine.query("dukes", "1.1").collect()}
    assert all("new" in l for l in labels)
    info = {r["table_name"]: r["ingest_ts"]
            for r in engine.get_data_info("dukes").collect()}
    assert info == {"1.1": ts}
