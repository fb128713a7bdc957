"""The page-plan memo of ``Engine.query_page``.

A page chain builds its filtered, ordered base frame once; later pages
are the cursor predicate, the limit and one collect. These tests pin
what the memo must never change: a restage, an incremental stage or a
new takedown is served at once, a bad filter is rejected on every
request, and every memoized page equals the uncached ``query()`` rows.
"""

import threading
from datetime import datetime

import pytest
from pyspark.sql import Row

from queens_spark.api import QueryService
from queens_spark.facade import Engine
from queens_spark.settings import ROW_UID

N_ROWS = 6000


def _rows(n, scale=1.0):
    return [
        Row(row=i, label=f"l{i}", year=2020 + i % 3, fuel=f"F{i % 5}",
            group="G", item=f"i{i}", unit=None if i % 7 == 0 else "u",
            value=float(i) * scale)
        for i in range(n)
    ]


def _stage(spark, root, n_rows):
    eng = Engine(spark, root)
    eng.ingest(spark.createDataFrame(_rows(n_rows)), "dukes", "1.1",
               ingest_ts=datetime(2024, 1, 1))
    eng.ingest(spark.createDataFrame(_rows(40)), "dukes", "1.2",
               ingest_ts=datetime(2024, 1, 1))
    eng.stage("dukes")
    return eng


@pytest.fixture(scope="module")
def staged_root(spark, tmp_path_factory):
    """A warehouse the read-only tests share (each with its own Engine,
    so each starts with an empty memo)."""
    root = str(tmp_path_factory.mktemp("page_memo") / "warehouse")
    _stage(spark, root, N_ROWS)
    return root


@pytest.fixture()
def reader(spark, staged_root):
    return Engine(spark, staged_root)


@pytest.fixture()
def engine(spark, warehouse_root):
    """A warehouse of its own, for the tests that restage, retire or
    compact it."""
    return _stage(spark, warehouse_root, 300)


def _uncached(eng, table, filters, limit, cursor):
    """The rows ``query()`` serves for one page, shaped like a page."""
    rows = eng.query("dukes", table, filters, limit=limit, cursor=cursor,
                     prune_null_columns=False).collect()
    return [
        {k: v for k, v in r.asDict().items() if v is not None or k == ROW_UID}
        for r in rows
    ]


def _plans_of(eng, collection="dukes"):
    return [k for k in eng._page_plans if k[0] == collection]


FILTERS = [
    None,
    {"year": {"gte": 2021}},
    {"fuel": {"like": "%f1%"}},
    {"$or": [{"fuel": "f2"}, {"year": 2020}]},
]


def test_memoized_pages_equal_uncached_query(reader):
    for filters in FILTERS:
        # the whole filtered table, uncached, in row_uid order
        ref = _uncached(reader, "1.1", filters, None, None)
        ref.sort(key=lambda r: r[ROW_UID])

        def want(limit, cursor):
            after = [r for r in ref if cursor is None or r[ROW_UID] > cursor]
            return after[:limit]

        for limit in (0, 1, 1000, 5000):
            cursor = None
            for _ in range(3):  # a chain's first pages
                got, nxt = reader.query_page("dukes", "1.1", filters,
                                             limit=limit, cursor=cursor)
                page = want(limit, cursor)
                assert got == page, (filters, limit, cursor)
                assert nxt == (page[-1][ROW_UID]
                               if page and len(page) == limit else None)
                if nxt is None:
                    break
                cursor = nxt
        # cursors a chain would not produce
        for cursor in (17, 10**9):
            got, _ = reader.query_page("dukes", "1.1", filters, limit=1000,
                                       cursor=cursor)
            assert got == want(1000, cursor)
    # one plan per (table, filter), however many pages were served
    assert len(_plans_of(reader)) == len(FILTERS)


def test_concurrent_readers_get_the_serial_rows(reader, monkeypatch):
    """More reader threads than cores, a memo bound below the number
    of chains (so entries are evicted and rebuilt while others read)
    and a short switch interval: every chain still returns the rows a
    serial walk returns, and the memo stays within its bound."""
    import sys

    from queens_spark import facade

    def walk(filters, limit):
        out, cursor = [], None
        while True:
            page, cursor = reader.query_page("dukes", "1.1", filters,
                                             limit=limit, cursor=cursor)
            out.extend(page)
            if cursor is None:
                return out

    want = [walk(f, 2500) for f in FILTERS]
    reader._page_plans.clear()  # the readers build every entry again
    monkeypatch.setattr(facade, "PAGE_PLAN_MEMO_SIZE", 3)
    got, errors = {}, []

    def read(i):
        try:
            got[i] = walk(FILTERS[i % len(FILTERS)], 2500)
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    threads = [threading.Thread(target=read, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert all(got[i] == want[i % len(FILTERS)] for i in range(8))
    assert len(reader._page_plans) <= 3


def test_restage_then_page_serves_new_version(spark, engine):
    f = {"year": 2021}
    before, _ = engine.query_page("dukes", "1.2", f, limit=100)
    assert {r["value"] for r in before} == {float(i) for i in range(40)
                                            if i % 3 == 1}
    old_plans = _plans_of(engine)
    # incremental stage: only 1.2 gets a new winner
    engine.ingest(spark.createDataFrame(_rows(40, scale=10.0)), "dukes", "1.2",
                  ingest_ts=datetime(2024, 2, 1))
    engine.stage("dukes")
    after, _ = engine.query_page("dukes", "1.2", f, limit=100)
    assert {r["value"] for r in after} == {10.0 * i for i in range(40)
                                           if i % 3 == 1}
    assert after == _uncached(engine, "1.2", f, 100, None)
    # the superseded snapshot's plans are dropped, not kept beside it
    assert not set(old_plans) & set(_plans_of(engine))
    assert len(_plans_of(engine)) == 1
    # and so is a stage whose as_of cutoff rolls 1.2 back
    engine.stage("dukes", as_of=datetime(2024, 1, 15))
    back, _ = engine.query_page("dukes", "1.2", f, limit=100)
    assert back == before


def test_compact_then_page_reads_the_new_files(spark, engine, tmp_path):
    # compaction commits a new snapshot with the same catalog rows:
    # only the snapshot id tells the memo that its file listing is gone.
    # A committed snapshot is immutable, so the stage's own engine holds
    # its listing; a new engine opens the fragments, which stand for a
    # stage that wrote many small files.
    import os
    import shutil

    prod = engine.warehouse.snapshot_path("dukes")
    part = os.path.join(prod, "table_name=1.1")
    frag = str(tmp_path / "frag")
    spark.read.parquet(part).repartition(3).write.parquet(frag)
    shutil.rmtree(part)
    shutil.move(frag, part)
    engine = Engine(spark, engine.warehouse.root)
    f = {"year": {"gte": 2021}}
    before, _ = engine.query_page("dukes", "1.1", f, limit=5000)
    assert engine.compact("dukes") == {"1.1": (3, 1)}
    after, _ = engine.query_page("dukes", "1.1", f, limit=5000)
    assert after == before
    assert len(before) == 200


def test_takedown_pending_after_memo_hides_rows(engine):
    f = {"year": {"gte": 2020}}
    first, _ = engine.query_page("dukes", "1.2", f, limit=100)
    assert [r["row"] for r in first] == list(range(40))
    engine.retire_documents("dukes", ids=[0, 1, 2], id_col="row")
    rows, _ = engine.query_page("dukes", "1.2", f, limit=100)
    assert [r["row"] for r in rows] == list(range(3, 40))
    # a second takedown while the first is still pending
    engine.retire_documents("dukes", ids=[39], id_col="row")
    rows, _ = engine.query_page("dukes", "1.2", f, limit=100)
    assert [r["row"] for r in rows] == list(range(3, 39))
    assert rows == _uncached(engine, "1.2", f, 100, None)


def test_invalid_filter_is_rejected_on_every_request(reader):
    svc = QueryService(reader)
    assert svc.get_data("dukes", "1.1", '{"year": 2020}', 10).status == 200
    for bad in ('{"bogus": 1}', '{"year": {"zz": 2020}}',
                '{"fuel": {"like": 5}}', '{"year": "twenty"}',
                '{"subfuel": "x"}'):  # subfuel is all-null: not queryable
        for _ in range(2):
            assert svc.get_data("dukes", "1.1", bad, 10).status == 422, bad
    assert len(_plans_of(reader)) == 1


def test_filter_spellings_share_one_plan(reader):
    reader.query_page("dukes", "1.1", {"year": 2020}, limit=5)
    reader.query_page("dukes", "1.1", {"year": {"eq": 2020}}, limit=5)
    assert len(_plans_of(reader)) == 1
    # same rows, different value type: a separate entry
    typed, _ = reader.query_page("dukes", "1.1", {"year": "2020"}, limit=5)
    assert len(_plans_of(reader)) == 2
    assert typed == reader.query_page("dukes", "1.1", {"year": 2020},
                                      limit=5)[0]
    # another table is another entry
    reader.query_page("dukes", "1.2", {"year": 2020}, limit=5)
    assert len(_plans_of(reader)) == 3
