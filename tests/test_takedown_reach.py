"""Takedowns reach the PRIMARY query surface and the counter stores.

Round-14 contract (store/takedown.py + facade wiring):

- retire → ``Engine.query``/``query_page`` stop serving the retired
  rows IMMEDIATELY (coverage-scoped anti-join against the persisted
  takedown artifact), before any restage;
- ``stage()`` bakes the filter into prod (affected tables rewrite,
  untouched tables stay byte-identical);
- ``maintain()`` physically purges raw+prod bytes, then clears the
  takedown segments — fsck/status green end to end;
- a retired id may RE-INGEST (the revision route) and serves its NEW
  row through every surface (coverage scoping);
- registered ECDF grids, the corpus profile, and registered rollups
  DECREMENT exactly — post-retirement serves equal a
  rebuild-on-survivors bit-for-bit;
- KMV sketches cannot subtract: ``status()`` flags them stale until a
  rebuild clears the flag;
- the doomed set stays a FRAME end to end (predicate retirement of a
  large slice never materialises ids on the driver), and every store
  retires exactly the artifact's id set.
"""

import os

import pytest
from pyspark.sql import Row, functions as F

from queens_spark.core.schema import CollectionSchema, ColumnSpec
from queens_spark.facade import Engine

DIM = 8


def docs_schemas():
    return {
        "docs": CollectionSchema(
            "docs",
            [
                ColumnSpec("ingest_id", "INTEGER", nullable=False),
                ColumnSpec("table_name", "TEXT", nullable=False),
                ColumnSpec("doc_id", "INTEGER", nullable=False),
                ColumnSpec("text", "TEXT", nullable=False),
                ColumnSpec("lang", "TEXT"),
                ColumnSpec("embedding", "ARRAY<FLOAT>"),
            ],
        )
    }


def _frame(spark, items):
    return spark.createDataFrame(
        [
            Row(
                doc_id=i,
                text=t,
                lang=("xx" if i % 3 == 0 else "en"),
                embedding=[float((i + j + 1) % 7 + 1) for j in range(DIM)],
            )
            for i, t in items
        ]
    )


def _words(i):
    return f"document number {i} " + " ".join(
        f"tok{(i * 7 + k) % 23}" for k in range(3 + i % 5)
    )


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"), schemas=docs_schemas())
    seed = _frame(spark, [(i, _words(i)) for i in range(10)])
    eng.build_text_index(seed, "text", "doc_id", "d", meta_cols=["lang"])
    eng.register_index("docs", "text", "d")
    # seed: warehouse via plain ingest (the index already holds it),
    # ledger via ingest_deduped — the registry-test convention
    eng.ingest(seed, "docs", "t0")
    eng.ingest_deduped(seed, "text", "doc_id", ledger="docs")
    # second batch rides the full dedup path: screen -> warehouse ->
    # registered index append
    eng.ingest(
        _frame(spark, [(i, _words(i)) for i in range(10, 16)]),
        "docs", "t1",
        dedup_text_col="text", dedup_id_col="doc_id",
    )
    eng.stage("docs")
    return eng


def _served_ids(eng, table):
    return sorted(
        r["doc_id"] for r in eng.query("docs", table).collect()
    )


@pytest.mark.slow
def test_retire_reaches_query_stage_and_maintain(engine):
    eng = engine
    assert _served_ids(eng, "t0") == list(range(10))
    report = eng.retire_documents("docs", ids=[3, 7])
    assert report["retired_count"] == 2
    assert report["takedown"]["tables"] == ["t0"]

    # 1. PRE-restage: query/query_page already exclude the rows
    assert _served_ids(eng, "t0") == [0, 1, 2, 4, 5, 6, 8, 9]
    rows, _ = eng.query_page("docs", "t0", limit=50)
    assert sorted(r["doc_id"] for r in rows) == [0, 1, 2, 4, 5, 6, 8, 9]
    # untouched table unaffected
    assert _served_ids(eng, "t1") == list(range(10, 16))
    # status reports the pending purge
    st = eng.status("docs")
    assert st["takedown"]["pending_segments"] == 1
    assert st["takedown"]["pending_ids"] == 2
    assert st["takedown"]["tables"] == ["t0"]

    # 2. stage(): prod physically drops the rows; the untouched
    # table's partition bytes stay identical (incrementality survives)
    def t1_files():
        # resolved after each stage: a path taken before it names the
        # previous snapshot
        t1_dir = os.path.join(eng.warehouse.snapshot_path("docs"),
                              "table_name=t1")
        return {
            f: (st.st_size, st.st_mtime_ns, st.st_ino)
            for f in os.listdir(t1_dir)
            for st in [os.stat(os.path.join(t1_dir, f))]
        }

    before = t1_files()
    snap = eng.warehouse.snapshot("docs")
    eng.stage("docs")
    assert eng.warehouse.snapshot("docs") != snap
    assert t1_files() == before
    prod_ids = sorted(
        r["doc_id"]
        for r in eng.warehouse.read_prod("docs")
        .where(F.col("table_name") == "t0").select("doc_id").collect()
    )
    assert prod_ids == [0, 1, 2, 4, 5, 6, 8, 9]
    # post-restage the query-path filter is OFF (prod reflects the
    # takedown) but results are unchanged
    assert _served_ids(eng, "t0") == [0, 1, 2, 4, 5, 6, 8, 9]
    assert eng._pending_takedown_dir("docs") is None

    # 3. maintain(): raw bytes leave disk, segments clear, fsck green
    rep = eng.maintain("docs")
    assert rep["takedown"]["purged_tables"] == ["t0"]
    assert rep["takedown"]["segments_cleared"] == 1
    raw_ids = sorted(
        r["doc_id"]
        for r in eng.warehouse.read_raw("docs")
        .where(F.col("table_name") == "t0").select("doc_id").collect()
    )
    assert raw_ids == [0, 1, 2, 4, 5, 6, 8, 9]
    assert eng.status("docs")["takedown"]["pending_segments"] == 0
    fs = eng.fsck()
    assert fs["error"] == 0, fs["findings"]
    assert _served_ids(eng, "t0") == [0, 1, 2, 4, 5, 6, 8, 9]
    # metadata (A2) reflects survivors
    n = (
        eng.get_metadata("docs", "t0")
        .where(F.col("column_name") == "doc_id")
        .collect()
    )
    assert [int(r["n_non_nulls"]) for r in n] == [8]

    # purge is idempotent
    rep2 = eng._purge_takedowns("docs")
    assert rep2 == {"purged_tables": [], "segments_cleared": 0}


@pytest.mark.slow
def test_reingest_after_retire_serves_new_row(engine):
    eng = engine
    eng.retire_documents("docs", ids=[5])
    assert 5 not in _served_ids(eng, "t0")
    # revision route: same id, NEW text, new table version
    iid = eng.ingest(
        _frame(spark=eng.spark, items=[(5, "revised text epsilon")]),
        "docs", "t0rev",
        dedup_text_col="text", dedup_id_col="doc_id",
    )
    assert iid is not None
    eng.stage("docs")
    # the new row serves (its ingest postdates the takedown coverage)
    assert _served_ids(eng, "t0rev") == [5]
    texts = [r["text"] for r in eng.query("docs", "t0rev").collect()]
    assert texts == ["revised text epsilon"]
    # and the purge keeps it while the old row's bytes die
    eng.maintain("docs")
    assert _served_ids(eng, "t0rev") == [5]
    assert 5 not in _served_ids(eng, "t0")


@pytest.mark.slow
def test_predicate_purge_is_frame_native_and_consistent(engine):
    """A metadata purge of a ~30% slice: the doomed set resolves once
    into the takedown artifact and every store retires exactly that
    set — artifact ids == text tombstones == ledger tombstones."""
    eng = engine
    report = eng.retire_documents("docs", predicate="lang = 'xx'")
    doomed_expected = sorted(i for i in range(16) if i % 3 == 0)
    assert report["retired_count"] == len(doomed_expected)

    from queens_spark.store.takedown import live_segments, read_manifest

    tdir = eng._takedown_dir("docs")
    segs = live_segments(tdir)
    assert len(segs) == 1
    assert read_manifest(tdir)["id_col"] == "doc_id"
    art = sorted(
        r["doc_id"]
        for r in eng.spark.read.parquet(
            os.path.join(tdir, segs[0]["dir"])
        ).collect()
    )
    assert art == doomed_expected
    # text index tombstone segment holds the same set
    tix = eng.text_index("d")
    tomb = sorted(
        r["doc_id"]
        for r in eng.spark.read.parquet(
            tix.entry["deletes"][-1]["path"]
        ).collect()
    )
    assert tomb == doomed_expected
    # warehouse serving excludes the set across both tables
    assert _served_ids(eng, "t0") == [i for i in range(10) if i % 3]
    assert _served_ids(eng, "t1") == [
        i for i in range(10, 16) if i % 3
    ]
    assert sorted(report["takedown"]["tables"]) == ["t0", "t1"]
    # maintain purges both tables
    rep = eng.maintain("docs")
    assert rep["takedown"]["purged_tables"] == ["t0", "t1"]
    assert eng.fsck()["error"] == 0


@pytest.mark.slow
def test_fsck_flags_takedown_damage(engine, tmp_path):
    eng = engine
    eng.retire_documents("docs", ids=[1])
    from queens_spark.store.takedown import live_segments

    tdir = eng._takedown_dir("docs")
    seg = live_segments(tdir)[0]["dir"]
    # injected damage: segment bytes vanish out-of-band
    import shutil

    seg_path = os.path.join(tdir, seg)
    backup = str(tmp_path / "seg_backup")
    shutil.copytree(seg_path, backup)
    shutil.rmtree(seg_path)
    rep = eng.fsck()
    assert any(
        f["component"] == "takedown" and f["level"] == "error"
        for f in rep["findings"]
    )
    shutil.copytree(backup, seg_path)
    # orphan dir → warn
    os.makedirs(os.path.join(tdir, "seg_999999"))
    rep = eng.fsck()
    assert any(
        f["component"] == "takedown" and f["level"] == "warn"
        and "seg_999999" in f["message"]
        for f in rep["findings"]
    )


def test_exports_exclude_pending_takedowns(engine, tmp_path):
    """Both export shapes honor a pending takedown: per-table exports
    ride Engine.query; the bulk parquet path reads prod directly and
    applies the same coverage-scoped filter."""
    from queens_spark.sources.export import export_all, export_table

    eng = engine
    eng.retire_documents("docs", ids=[2, 11])
    out = str(tmp_path / "exp")
    p = export_table(eng, "docs", "parquet", "t0", out)
    got = sorted(
        r["doc_id"] for r in eng.spark.read.parquet(p).collect()
    )
    assert got == [0, 1, 3, 4, 5, 6, 7, 8, 9]
    bulk = export_all(eng, "docs", "parquet", out, bulk_export=True)[0]
    ids = sorted(
        r["doc_id"] for r in eng.spark.read.parquet(bulk).collect()
    )
    assert ids == sorted(
        set(range(16)) - {2, 11}
    )


def test_predicate_retirement_resolves_via_warehouse(spark, tmp_path):
    """Retention/expiry without a lexical index: the predicate
    resolves against the collection's own warehouse columns (one
    column-pruned raw scan) and the full takedown reach still
    applies."""
    eng = Engine(spark, str(tmp_path / "wh"), schemas=docs_schemas())
    eng.ingest(
        _frame(spark, [(i, _words(i)) for i in range(12)]),
        "docs", "t0",
        dedup_text_col="text", dedup_id_col="doc_id",
    )
    eng.stage("docs")
    # no registered stores at all -> id_col must come from the caller
    import pytest as _pytest

    with _pytest.raises(ValueError, match="id_col"):
        eng.retire_documents("docs", predicate="lang = 'xx'")
    report = eng.retire_documents(
        "docs", predicate="lang = 'xx'", id_col="doc_id"
    )
    assert report["retired_count"] == 4  # 0, 3, 6, 9
    assert _served_ids(eng, "t0") == [i for i in range(12) if i % 3]
    eng.maintain("docs")
    raw_ids = sorted(
        r["doc_id"] for r in eng.warehouse.read_raw("docs").collect()
    )
    assert raw_ids == [i for i in range(12) if i % 3]
    assert eng.fsck()["error"] == 0


@pytest.mark.slow
def test_takedown_applies_to_as_of_time_travel(spark, engine):
    """A takedown erases HISTORY too: staging an as-of snapshot from
    before the retirement still excludes the retired rows (the
    takedown's coverage spans every ingest that existed at retire
    time) — the GDPR-erasure semantics, not version-scoped hiding."""
    from datetime import datetime

    eng = engine
    eng.retire_documents("docs", ids=[1])
    eng.stage("docs", as_of=datetime(2030, 1, 1))
    assert 1 not in _served_ids(eng, "t0")
    # restage to "now" — still excluded, and maintain purges
    eng.stage("docs")
    assert 1 not in _served_ids(eng, "t0")


def test_retire_cli_with_warehouse_predicate(spark, tmp_path, capsys):
    import json as _json

    from queens_spark.cli import main

    eng = Engine(spark, str(tmp_path / "wh"), schemas=docs_schemas())
    eng.ingest(
        _frame(spark, [(i, _words(i)) for i in range(9)]),
        "docs", "t0",
        dedup_text_col="text", dedup_id_col="doc_id",
    )
    eng.stage("docs")
    rc = main([
        "--warehouse", str(tmp_path / "wh"), "retire", "docs",
        "--where", "lang = 'xx'", "--id-col", "doc_id",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["retired_count"] == 3
    assert sorted(
        r["doc_id"] for r in eng.query("docs", "t0").collect()
    ) == [i for i in range(9) if i % 3]


@pytest.mark.slow
def test_randomized_ingest_retire_stage_maintain_interleave(spark, tmp_path):
    """Property: any interleave of (dedup ingest, retire, stage,
    maintain) serves exactly the driver-side survivor model — the
    warehouse analog of the cluster map's retire/append/compact
    interleave property. Re-ingested ids (after their retirement)
    re-serve; everything else stays down through restages and
    physical purges."""
    import random

    rng = random.Random(1404)
    eng = Engine(spark, str(tmp_path / "wh"), schemas=docs_schemas())
    next_id = 0
    live = {}        # doc_id -> table_name (the model of what serves)
    tables = []
    n_batches = 0
    for opno in range(12):
        op = rng.choice(
            ["ingest", "ingest", "retire", "stage", "maintain"]
        )
        if op == "ingest" or not live:
            ids = list(range(next_id, next_id + rng.randint(2, 5)))
            next_id = ids[-1] + 1
            t = f"b{n_batches}"
            n_batches += 1
            eng.ingest(
                _frame(spark, [(i, _words(i) + f" v{opno}") for i in ids]),
                "docs", t,
                dedup_text_col="text", dedup_id_col="doc_id",
            )
            for i in ids:
                live[i] = t
            tables.append(t)
        elif op == "retire":
            doomed = rng.sample(sorted(live), min(2, len(live)))
            eng.retire_documents("docs", ids=doomed)
            for i in doomed:
                del live[i]
        elif op == "stage":
            eng.stage("docs")
        else:
            eng.maintain("docs")
    eng.stage("docs")
    got = {}
    for t in tables:
        try:
            for r in eng.query("docs", t).collect():
                got[r["doc_id"]] = t
        except Exception:
            pass  # fully-retired table dropped from prod
    assert got == live
    eng.maintain("docs")
    assert eng.fsck()["error"] == 0
    raw_ids = {
        r["doc_id"] for r in eng.warehouse.read_raw("docs").collect()
    }
    assert raw_ids == set(live)


@pytest.mark.slow
def test_fully_retired_table_purges_to_empty(spark, engine):
    """Retiring EVERY row of a table: stage drops the table from prod
    (zero-row winner), maintain rewrites its raw partition to an
    empty-but-readable parquet dir (the forced single empty part
    file), and the untouched table keeps serving."""
    eng = engine
    eng.retire_documents("docs", ids=list(range(10)))  # all of t0
    eng.stage("docs")
    # t0 gone from prod; t1 intact
    import os

    assert not os.path.isdir(
        os.path.join(eng.warehouse.snapshot_path("docs"), "table_name=t0")
    )
    assert _served_ids(eng, "t1") == list(range(10, 16))
    rep = eng.maintain("docs")
    assert rep["takedown"]["purged_tables"] == ["t0"]
    # raw stays readable with t0 empty
    raw = eng.warehouse.read_raw("docs")
    assert raw.where(F.col("table_name") == "t0").count() == 0
    assert raw.where(F.col("table_name") == "t1").count() == 6
    assert eng.fsck()["error"] == 0


def test_data_info_excludes_pending_takedowns(spark, warehouse_root):
    """get_data_info reads prod directly — its row counts must match
    what query() serves while a takedown is pending."""
    from datetime import datetime

    from pyspark.sql import Row

    eng = Engine(spark, warehouse_root)
    rows = [
        Row(row=i, label=f"l{i}", year=2020 + i % 3, fuel=f"f{i % 5}",
            group="G", item=f"i{i}", unit="u", value=float(i))
        for i in range(20)
    ]
    eng.ingest(spark.createDataFrame(rows), "dukes", "1.1",
               ingest_ts=datetime(2024, 1, 1))
    eng.stage("dukes")
    assert int(eng.get_data_info("dukes").collect()[0]["n_rows"]) == 20
    # retire five rows by row id (the dimension key here)
    eng.retire_documents("dukes", ids=[0, 1, 2, 3, 4], id_col="row")
    assert int(eng.get_data_info("dukes").collect()[0]["n_rows"]) == 15
    assert eng.query("dukes", "1.1").count() == 15
    # maintain purges a LEDGER-LESS collection too (compaction no-ops)
    rep = eng.maintain("dukes")
    assert rep["takedown"]["purged_tables"] == ["1.1"]
    assert eng.warehouse.read_raw("dukes").count() == 15
