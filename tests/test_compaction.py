"""Prod-snapshot small-file compaction: fewer files, byte-identical
rows (row_uid included), untouched partitions left alone, queries and
pagination unaffected."""

import os
from datetime import datetime

import pytest
from pyspark.sql import Row

from queens_spark.facade import Engine


def _rows(n: int, tag: str):
    return [
        Row(row=i, label=f"{tag} {i}", year=2019 + (i % 5),
            fuel=["Gas", "coal", "Wind", "Oil"][i % 4],
            group=f"g{i // 20}", unit="ktoe", value=float(i) * 1.5)
        for i in range(n)
    ]


def _data_files(part_dir: str) -> list[str]:
    return sorted(
        f for f in os.listdir(part_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


@pytest.fixture()
def engine(spark, warehouse_root):
    return Engine(spark, warehouse_root)


def _fragment(part_dir: str, n_files: int) -> None:
    """Split the partition's single parquet file into *n_files* —
    the accumulated-small-files layout compaction exists to repair
    (at test scale AQE coalesces staging writes to one file, so the
    fragmentation is simulated directly)."""
    import pyarrow.parquet as pq

    files = _data_files(part_dir)
    table = pq.read_table(os.path.join(part_dir, files[0]))
    step = max(1, table.num_rows // n_files)
    for i in range(n_files):
        lo = i * step
        hi = table.num_rows if i == n_files - 1 else (i + 1) * step
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(part_dir, f"part-frag-{i:05d}.parquet"),
            coerce_timestamps="us",  # match Spark's micros timestamps
        )
    for f in files:
        os.remove(os.path.join(part_dir, f))


@pytest.mark.slow
def test_compact_reduces_files_preserves_rows(spark, engine):
    engine.ingest(spark.createDataFrame(_rows(200, "a")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.ingest(spark.createDataFrame(_rows(40, "b")), "dukes", "1.2",
                  ingest_ts=datetime(2024, 1, 2))
    engine.stage("dukes")
    prod = engine.warehouse.snapshot_path("dukes")
    dirs = engine.warehouse._partition_dirs(prod)
    _fragment(os.path.join(prod, dirs["1.1"]), 5)
    _fragment(os.path.join(prod, dirs["1.2"]), 3)
    # a snapshot is immutable once committed, so the engine that staged
    # it holds its file listing; a new one opens the fragmented layout,
    # which stands for a stage that wrote many small files
    engine = Engine(spark, engine.warehouse.root)
    wh = engine.warehouse
    before = {t: _data_files(os.path.join(prod, d)) for t, d in dirs.items()}
    assert max(len(v) for v in before.values()) > 1, (
        "fixture must fragment at least one partition"
    )
    rows_before = sorted(
        map(tuple, wh.read_prod("dukes").collect())
    )

    report = wh.compact("dukes")
    assert report, "compaction must report rewritten partitions"
    for t, (n_b, n_a) in report.items():
        assert n_b == len(before[t]) and n_a == 1

    rows_after = sorted(map(tuple, wh.read_prod("dukes").collect()))
    assert rows_after == rows_before  # row_uid included: byte-identical
    live = wh.snapshot_path("dukes")
    assert live != prod
    for t, d in dirs.items():
        if len(before[t]) > 1:
            assert len(_data_files(os.path.join(live, d))) == 1
        # the replaced snapshot is left as it was
        assert _data_files(os.path.join(prod, d)) == before[t]

    # queries still work over the compacted layout
    out = engine.query("dukes", "1.1", {"year": {"gte": 2020}})
    assert out.count() > 0
    # an immediate re-compact is a no-op
    assert wh.compact("dukes") == {}


def test_compact_skips_already_compact_partitions(spark, engine):
    engine.ingest(spark.createDataFrame(_rows(120, "a")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.ingest(spark.createDataFrame(_rows(8, "tiny")), "dukes", "1.2",
                  ingest_ts=datetime(2024, 1, 2))
    engine.stage("dukes")
    wh = engine.warehouse

    def small():
        prod = wh.snapshot_path("dukes")
        return os.path.join(prod, wh._partition_dirs(prod)["1.2"])

    def state(part):
        return {f: (os.stat(os.path.join(part, f)).st_mtime_ns,
                    os.stat(os.path.join(part, f)).st_ino)
                for f in _data_files(part)}

    if len(_data_files(small())) == 1:
        mtimes = state(small())
        report = wh.compact("dukes")
        assert "1.2" not in report
        assert state(small()) == mtimes  # untouched, not rewritten
    else:
        pytest.skip("tiny partition unexpectedly fragmented")


def test_compact_guards(spark, engine):
    from queens_spark.core.errors import StagingError

    with pytest.raises(StagingError):
        engine.warehouse.compact("nope")
    engine.ingest(spark.createDataFrame(_rows(10, "a")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.stage("dukes")
    with pytest.raises(ValueError):
        engine.warehouse.compact("dukes", target_files=0)


def test_compact_cli_surface(spark, engine, capsys):
    import json as _json

    from queens_spark import cli

    engine.ingest(spark.createDataFrame(_rows(60, "a")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.stage("dukes")
    prod = engine.warehouse.snapshot_path("dukes")
    dirs = engine.warehouse._partition_dirs(prod)
    _fragment(os.path.join(prod, dirs["1.1"]), 4)
    rc = cli.main([
        "--warehouse", engine.warehouse.root, "compact", "dukes",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["compacted"]["1.1"] == {"files_before": 4, "files_after": 1}


def test_compact_crashed_before_flip_keeps_serving(spark, engine,
                                                   monkeypatch):
    """Crash window: a prod compact wrote its new snapshot and died
    before the manifest flip. The committed snapshot keeps serving the
    same rows, and a rerun compacts and clears the dead run's dir."""
    from queens_spark.store.warehouse import Warehouse

    engine.ingest(spark.createDataFrame(_rows(40, "a")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.stage("dukes")
    live = engine.warehouse.snapshot_path("dukes")
    _fragment(os.path.join(live, engine.warehouse._partition_dirs(live)["1.1"]), 4)
    wh = Warehouse(spark, engine.warehouse.root)  # opens the fragments
    snap = wh.snapshot("dukes")
    rows_before = sorted(map(tuple, wh.read_prod("dukes").collect()))

    def crash(*_a, **_k):
        raise RuntimeError("crash before the flip")

    monkeypatch.setattr(Warehouse, "_write_manifest", crash)
    with pytest.raises(RuntimeError):
        wh.compact("dukes")
    monkeypatch.undo()
    dead = set(os.listdir(wh.prod_path("dukes"))) - {f"snap-{snap}"}
    assert dead, "the crashed run left its snapshot dir behind"
    assert wh.snapshot("dukes") == snap
    assert sorted(map(tuple, wh.read_prod("dukes").collect())) == rows_before

    assert wh.compact("dukes") == {"1.1": (4, 1)}  # the rerun
    assert not dead & set(os.listdir(wh.prod_path("dukes")))
    assert sorted(map(tuple, wh.read_prod("dukes").collect())) == rows_before


@pytest.mark.slow
def test_compact_raw_reduces_files_preserves_provenance(spark, engine):
    """Raw compaction: each ingest appends one file-set per partition;
    compact(which='raw') merges them while keeping every row —
    ingest_id provenance column included — byte-identical, and
    staging still resolves the same winners afterwards."""
    engine.ingest(spark.createDataFrame(_rows(60, "a")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.ingest(spark.createDataFrame(_rows(60, "b")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 2, 1))
    engine.ingest(spark.createDataFrame(_rows(20, "c")), "dukes", "1.2",
                  ingest_ts=datetime(2024, 3, 1))
    wh = engine.warehouse
    raw = wh.raw_path("dukes")
    dirs = wh._partition_dirs(raw)
    n_before = len(_data_files(os.path.join(raw, dirs["1.1"])))
    assert n_before >= 2, "two ingests must leave two file-sets"
    rows_before = sorted(map(tuple, wh.read_raw("dukes").collect()))

    report = wh.compact("dukes", which="raw")
    assert "1.1" in report
    n_b, n_a = report["1.1"]
    assert n_b == n_before and n_a == 1
    assert sorted(map(tuple, wh.read_raw("dukes").collect())) == rows_before
    # ingest_id provenance intact per row
    ids = {r["ingest_id"] for r in wh.read_raw("dukes").collect()}
    assert ids == {1, 2, 3}
    # staging after raw compaction resolves the same winners
    engine.stage("dukes")
    staged = engine.query("dukes", "1.1", {})
    assert staged.count() == 60
    assert all("b " in r["label"] for r in
               staged.select("label").collect())


def test_compact_raw_recovers_parked_partition_from_crashed_run(spark, engine):
    """Same crash window as prod: a raw partition parked inside tmp by
    a crashed run must be restored, never rmtree'd."""
    engine.ingest(spark.createDataFrame(_rows(30, "a")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    wh = engine.warehouse
    raw = wh.raw_path("dukes")
    entry = wh._partition_dirs(raw)["1.1"]
    rows_before = sorted(map(tuple, wh.read_raw("dukes").collect()))

    tmp = raw + "__compact_tmp"
    os.makedirs(tmp)
    os.replace(os.path.join(raw, entry), os.path.join(tmp, entry + "__old"))
    assert "1.1" not in wh._partition_dirs(raw)

    wh.compact("dukes", which="raw")
    assert "1.1" in wh._partition_dirs(raw)
    assert not os.path.isdir(tmp)
    assert sorted(map(tuple, wh.read_raw("dukes").collect())) == rows_before


def test_compact_raw_guards(spark, engine):
    with pytest.raises(ValueError, match="which"):
        engine.warehouse.compact("dukes", which="bogus")
    from queens_spark.core.errors import StagingError

    with pytest.raises(StagingError, match="no raw data"):
        engine.warehouse.compact("dukes", which="raw")


def test_compact_cli_raw_surface(spark, engine, capsys):
    import json as _json

    from queens_spark import cli

    engine.ingest(spark.createDataFrame(_rows(30, "a")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 1, 1))
    engine.ingest(spark.createDataFrame(_rows(30, "b")), "dukes", "1.1",
                  ingest_ts=datetime(2024, 2, 1))
    rc = cli.main([
        "--warehouse", engine.warehouse.root, "compact", "dukes",
        "--which", "raw",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["compacted"]["1.1"]["files_after"] == 1
    assert out["compacted"]["1.1"]["files_before"] >= 2
