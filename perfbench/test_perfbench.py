"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The generator tests are fast. The two run tests start Spark and take
about a minute each at ``--size tiny``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import pandas as pd  # noqa: E402
from spans import covered  # noqa: E402
from workloads import result_digest  # noqa: E402


def _members(path: str) -> dict[str, bytes]:
    # the zip container stamps each member with its write time, so the
    # workbook's content is its members' bytes
    with zipfile.ZipFile(path) as z:
        return {n: z.read(n) for n in z.namelist()}


def test_same_seed_same_workbooks_and_rows(tmp_path):
    a = gen.make_version(7, "1.1", 2, 20)
    b = gen.make_version(7, "1.1", 2, 20)
    assert a == b
    pa = gen.write_workbook(a, str(tmp_path / "a.xlsx"))
    pb = gen.write_workbook(b, str(tmp_path / "b.xlsx"))
    assert _members(pa) == _members(pb)
    other = gen.make_version(8, "1.1", 2, 20)
    assert other.rows != a.rows
    assert _members(gen.write_workbook(other, str(tmp_path / "c.xlsx"))) != _members(pa)


def test_same_seed_same_reader_plans():
    versions = {t: gen.make_version(3, t, 1, 36) for t in gen.table_ids(2)}
    plans = gen.reader_plans(3, versions, 2, 2)
    assert plans == gen.reader_plans(3, versions, 2, 2)
    # every reader walks the same number of pages, whatever the seed
    pages = {sum(c.expect.n_pages for c in p)
             for seed in (3, 4) for p in gen.reader_plans(seed, versions, 2, 2)}
    assert len(pages) == 1


def test_same_seed_same_catalog_tables(tmp_path):
    a, b = gen.catalog_tables(7), gen.catalog_tables(7)
    assert a.keys() == b.keys() and all(a[t].equals(b[t]) for t in a)
    other = gen.catalog_tables(8)
    assert not other["lineitem"].equals(a["lineitem"])
    da = gen.write_catalog(7, str(tmp_path / "a"))
    db = gen.write_catalog(7, str(tmp_path / "b"))
    for name in sorted(os.listdir(da)):
        with open(os.path.join(da, name), "rb") as fa, \
                open(os.path.join(db, name), "rb") as fb:
            assert fa.read() == fb.read(), name


def test_result_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 3.0]})
    b = pd.DataFrame({"v": [3.0, 0.5], "k": [2.0, 1.0]})
    assert result_digest(a) == result_digest(b)
    assert result_digest(a) != result_digest(a.assign(v=[0.5, 3.0000001]))


def test_expected_chain_follows_the_filter_dsl():
    v = gen.make_version(1, "1.1", 1, 24)
    n = len(v.rows)
    assert gen.expected(v, None, n).n_pages == 2  # full page, then empty
    assert gen.expected(v, None, n + 1).n_pages == 1
    gas = gen.expected(v, {"fuel": {"like": "%GAS%"}}, 100)
    assert gas.n_rows == sum("gas" in r[0].lower() for r in v.rows)
    either = gen.expected(
        v, {"$or": [{"fuel": {"like": "%coal%"}}, {"year": {"lt": 2012}}]}, 100)
    assert either.n_rows == sum(
        "coal" in r[0].lower() or r[2] < 2012 for r in v.rows)


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10
    assert covered([]) == 0


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "4", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


@pytest.mark.parametrize("workload,trace", [
    ("serve_pages", 0), ("publish_release", 1),
])
def test_tiny_run_prints_every_metric(workload, trace):
    result, stdout = _run(workload, trace)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] > 0
    kind = "per_layer" if trace else "end_to_end"
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    assert got == _declared(kind)
    rate = [ln for ln in stdout.splitlines() if ln.startswith("op_error_rate")]
    assert rate and float(rate[0].split()[1]) == 0.0
