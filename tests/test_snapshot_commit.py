"""One commit for the prod snapshot.

Every prod write builds a new immutable ``snap-{n}`` directory and
commits it with one rename of the staged manifest. These tests pin
what that buys:

- readers walking page chains while a writer ingests, restages,
  stages with ``as_of`` and compacts never fail, and every page comes
  from exactly one version;
- a crash at any step of a stage or a prod compact leaves the previous
  snapshot serving the same rows, and the next stage succeeds.
"""

import os
import threading
from datetime import datetime

import pytest
from pyspark.sql import Row, functions as F

from queens_spark.facade import Engine
from queens_spark.settings import ROW_UID
from queens_spark.store import warehouse as warehouse_mod
from queens_spark.store.warehouse import Warehouse

N_ROWS = 200
PAGE = 40


def _rows(tag: str, n: int = N_ROWS):
    return [
        Row(row=i, label=f"{tag} {i}", year=2020 + i % 3, fuel=f"F{i % 4}",
            group="G", item=f"i{i}", unit="u", value=float(i))
        for i in range(n)
    ]


def _ingest(spark, eng, tag, day, table="1.1", n=N_ROWS):
    eng.ingest(spark.createDataFrame(_rows(tag, n)), "dukes", table,
               ingest_ts=datetime(2024, 1, day))


def _tags(records) -> set[str]:
    return {r["label"].split()[0] for r in records}


def _walk(eng, table="1.1", filters=None) -> list[list[dict]]:
    pages, cursor = [], None
    while True:
        recs, cursor = eng.query_page("dukes", table, filters, limit=PAGE,
                                      cursor=cursor)
        pages.append(recs)
        if cursor is None:
            return pages


@pytest.fixture()
def engine(spark, warehouse_root):
    eng = Engine(spark, warehouse_root)
    _ingest(spark, eng, "v1", 1)
    _ingest(spark, eng, "w1", 1, table="1.2", n=30)
    eng.stage("dukes")
    return eng


@pytest.mark.slow
def test_reads_during_restage_see_one_version_per_page(spark, engine):
    """Two readers walk page chains while a writer ingests, restages,
    rolls back with ``as_of``, restages a fragmented layout and
    compacts it. No read raises, and every page holds the rows of one
    version only."""
    stop = threading.Event()
    errors: list[BaseException] = []
    mixed: list[set[str]] = []
    seen: set[str] = set()
    pages_read = [0]

    def reader(filters):
        while not stop.is_set():
            try:
                for page in _walk(engine, filters=filters):
                    tags = _tags(page)
                    if len(tags) > 1:
                        mixed.append(tags)
                    seen.update(tags)
                    pages_read[0] += 1
            except BaseException as exc:  # noqa: BLE001 — reported below
                errors.append(exc)
                return

    threads = [
        threading.Thread(target=reader, args=(f,))
        for f in (None, {"year": {"gte": 2021}})
    ]
    for t in threads:
        t.start()
    try:
        _ingest(spark, engine, "v2", 2)
        engine.stage("dukes")
        _ingest(spark, engine, "v3", 3)
        engine.stage("dukes")
        engine.stage("dukes", as_of=datetime(2024, 1, 2, 12))
        _ingest(spark, engine, "v4", 4)
        # an uncoalesced stage writes one file per shuffle partition,
        # so the compact below has fragments to merge
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        spark.conf.set(key, "false")
        try:
            engine.stage("dukes")
        finally:
            spark.conf.set(key, "true")
        assert engine.compact("dukes").get("1.1", (0, 0))[0] > 1
        engine.stage("dukes")
    finally:
        stop.set()
        for t in threads:
            t.join()

    assert not errors, errors
    assert not mixed, mixed
    assert pages_read[0] > 0
    assert len(seen) > 1, f"readers saw only {seen}"
    final = [r for page in _walk(engine) for r in page]
    assert _tags(final) == {"v4"} and len(final) == N_ROWS
    assert engine.fsck()["healthy"]


# ------------------------------------------------------- crash injection

def _fail_mid_job(df):
    """*df*, failing its job at the third row of a partition: a crash
    in the middle of a Spark write."""
    return df.withColumn(ROW_UID, F.when(
        F.col(ROW_UID) > 2, F.raise_error(F.lit("injected crash"))
    ).otherwise(F.col(ROW_UID)))


def _after(name):
    """Warehouse method *name* that does its work, then crashes."""
    orig = getattr(Warehouse, name)

    def crash(self, *args, **kwargs):
        orig(self, *args, **kwargs)
        raise RuntimeError(f"injected crash after {name}")

    return crash


def _crash_before_flip(self, *args, **kwargs):
    raise RuntimeError("injected crash before the flip")


def _served(eng) -> dict[str, list[dict]]:
    return {t: [r for page in _walk(eng, t) for r in page]
            for t in ("1.1", "1.2")}


def _check_crash_kept_serving(spark, eng, before, snap, dirs_before):
    """The committed snapshot is the one before the crash, is still on
    disk, and serves the same rows to this engine and to a new one."""
    wh = eng.warehouse
    assert wh.snapshot("dukes") == snap
    assert _served(eng) == before
    assert _served(Engine(spark, wh.root)) == before
    assert set(os.listdir(wh.prod_path("dukes"))) >= dirs_before
    assert eng.fsck()["healthy"]


STAGE_CRASHES = {
    "spark_write": lambda mp: mp.setattr(
        warehouse_mod, "with_row_uid",
        lambda df, cols, _orig=warehouse_mod.with_row_uid: _fail_mid_job(
            _orig(df, cols)),
    ),
    "after_links": lambda mp: mp.setattr(Warehouse, "_link", _after("_link")),
    "after_catalog": lambda mp: mp.setattr(
        Warehouse, "refresh_metadata", _after("refresh_metadata")),
    "before_flip": lambda mp: mp.setattr(
        Warehouse, "_write_manifest", _crash_before_flip),
}


@pytest.mark.parametrize("step", sorted(STAGE_CRASHES))
def test_stage_crash_keeps_previous_snapshot(spark, engine, monkeypatch, step):
    wh = engine.warehouse
    before, snap = _served(engine), wh.snapshot("dukes")
    dirs_before = set(os.listdir(wh.prod_path("dukes")))
    _ingest(spark, engine, "v2", 2)  # 1.1 changes, 1.2 is linked
    STAGE_CRASHES[step](monkeypatch)
    with pytest.raises(Exception):
        engine.stage("dukes")
    monkeypatch.undo()
    _check_crash_kept_serving(spark, engine, before, snap, dirs_before)

    assert engine.stage("dukes") == ["1.1", "1.2"]
    after = _served(engine)
    assert _tags(after["1.1"]) == {"v2"} and after["1.2"] == before["1.2"]
    # the flip cleared the crashed write's dir: only the new snapshot
    # and the one it replaced are left
    assert sorted(os.listdir(wh.prod_path("dukes"))) == sorted(
        [f"snap-{snap}", f"snap-{wh.snapshot('dukes')}"])
    assert engine.fsck()["healthy"]


def _fail_coalesce(mp, spark):
    cls = type(spark.range(1))
    orig = cls.coalesce
    mp.setattr(cls, "coalesce", lambda df, n: orig(_fail_mid_job(df), n))


COMPACT_CRASHES = {
    "spark_write": _fail_coalesce,
    # a compact links the catalog with the unchanged tables
    "after_links": lambda mp, spark: STAGE_CRASHES["after_links"](mp),
    "before_flip": lambda mp, spark: STAGE_CRASHES["before_flip"](mp),
}


@pytest.mark.parametrize("step", sorted(COMPACT_CRASHES))
def test_compact_crash_keeps_previous_snapshot(spark, engine, monkeypatch,
                                               step):
    _ingest(spark, engine, "v2", 2)
    # an uncoalesced stage writes one file per shuffle partition
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
        engine.stage("dukes")
    finally:
        spark.conf.set(key, "true")
    wh = engine.warehouse
    before, snap = _served(engine), wh.snapshot("dukes")
    dirs_before = set(os.listdir(wh.prod_path("dukes")))
    COMPACT_CRASHES[step](monkeypatch, spark)
    with pytest.raises(Exception):
        engine.compact("dukes")
    monkeypatch.undo()
    _check_crash_kept_serving(spark, engine, before, snap, dirs_before)

    assert engine.compact("dukes")["1.1"][1] == 1
    assert _served(engine) == before
    _ingest(spark, engine, "v3", 3)
    assert engine.stage("dukes") == ["1.1", "1.2"]
    assert _tags(_served(engine)["1.1"]) == {"v3"}
    assert engine.fsck()["healthy"]


def test_pre_snapshot_prod_restages_in_full(spark, engine):
    """A prod written before snapshots: table dirs straight under
    prod/{collection}/ and a manifest with no snapshot id. It is not
    served, and the next stage restages every table into a snapshot
    and deletes the old layout."""
    import json
    import shutil

    wh = engine.warehouse
    served = _served(engine)
    prod, snap = wh.prod_path("dukes"), wh.snapshot_path("dukes")
    for name in os.listdir(snap):
        shutil.move(os.path.join(snap, name), os.path.join(prod, name))
    os.rmdir(snap)
    manifest = wh._read_manifest("dukes")
    del manifest["snapshot"]
    with open(wh.manifest_path("dukes"), "w") as fh:
        json.dump(manifest, fh)
    fresh = Engine(spark, wh.root)
    assert not fresh.warehouse.is_staged("dukes")
    assert fresh.warehouse.metadata_rows("dukes") == []

    assert fresh.stage("dukes") == ["1.1", "1.2"]
    assert os.listdir(prod) == [f"snap-{fresh.warehouse.snapshot('dukes')}"]
    assert _served(fresh) == served
