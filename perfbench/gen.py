"""Seeded input generator for the benchmark.

Everything a run feeds the program comes from here, as a pure function
of the workload seed: DUKES-shaped wide sheets (title rows, a header
row of years across columns, note-tagged row labels, a notes sheet),
their versions, the readers' page-chain plans and the filter mix, and
the tables the catalog slice reads. The generator also knows every
table's long-format rows, so it can say what a complete page chain must
return.
"""

from __future__ import annotations

import math
import os
import random
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from queens_spark.settings import DEFAULT_LIMIT, MAX_LIMIT
from queens_spark.sources.xlsx_lite import write_workbook_xlsx

COLLECTION = "dukes"
YEARS = list(range(2010, 2020))
#: Each ``like`` word matches exactly three of these names, so every
#: filter of a kind selects the same number of rows whatever the seed.
FUELS = (
    "Natural gas", "Biogas", "Landfill gas",
    "Crude oil", "Fuel oil", "Lubricating oil",
    "Steam coal", "Coking coal", "Anthracite coal",
    "Onshore wind", "Offshore wind", "Wind and marine",
)
LIKE_WORDS = ("GAS", "Oil", "coal", "wInD")
#: Page sizes a reader asks for, from the API's default to its maximum;
#: every run has the same mix.
LIMITS = (DEFAULT_LIMIT, 2500, MAX_LIMIT)
#: One ETL config entry per table: the reference's manual sheet path.
SHEET_ARGS = {
    "ignore_mapping": True, "id_var_name": "fuel", "unit": "ktoe",
    "var_to_melt": "year",
}


def table_ids(n_tables: int) -> list[str]:
    return [f"1.{i + 1}" for i in range(n_tables)]


def etl_config(tables: list[str]) -> dict:
    return {
        COLLECTION: {
            "chapter_1": {
                t: {
                    "f": "process_sheet",
                    "f_args": dict(SHEET_ARGS, sheet_name=t),
                    "description": f"Benchmark table {t}",
                }
                for t in tables
            }
        }
    }


@dataclass(frozen=True)
class Version:
    """One published version of one table: its wide sheet and the long
    rows ``(fuel, label, year, value)`` the ETL must turn it into."""

    table: str
    version: int
    sheet: list[list]
    rows: list[tuple[str, str, int, float | None]]

    @property
    def label_tag(self) -> str:
        return f"[note {self.version}]"

    def cell_bytes(self) -> int:
        return sum(len(str(v).encode()) for row in self.sheet for v in row
                   if v is not None)


def make_version(seed: int, table: str, version: int, n_rows: int) -> Version:
    """A wide DUKES sheet for *table* at *version*. Row labels carry the
    version as a note tag, which the ETL strips from ``fuel`` but keeps
    in ``label``; about 3% of cells are the ``[x]`` suppression marker,
    which schema coercion turns into nulls."""
    rng = random.Random(f"{seed}/{table}/{version}")
    # year headers are text cells: a numeric header over a float column
    # reads back as "1995.0", which the ETL cannot melt
    header = ["Fuel"] + [str(y) for y in YEARS]
    sheet = [
        [f"DUKES {table}: benchmark balance, revision {version}"]
        + [None] * len(YEARS),
        ["Thousand tonnes of oil equivalent"] + [None] * len(YEARS),
        [None] * (len(YEARS) + 1),
        header,
    ]
    rows = []
    for i in range(n_rows):
        fuel = f"{FUELS[i % len(FUELS)]} {i}"
        label = f"{fuel} [note {version}]"
        cells = []
        for year in YEARS:
            if rng.random() < 0.03:
                cells.append("[x]")
                rows.append((fuel, label, year, None))
            else:
                v = round(rng.uniform(0.0, 5000.0), 2)
                cells.append(v)
                rows.append((fuel, label, year, v))
        sheet.append([label] + cells)
    return Version(table, version, sheet, rows)


def write_workbook(v: Version, path: str) -> str:
    """Write *v*'s workbook: the data sheet plus a one-column notes
    sheet, which wrangling drops. Cells go in raw (no header row added):
    the program's reader has to find the header itself."""
    notes = [["Notes"]] + [[f"[note {k}] revised figures"] for k in range(1, 4)]
    sheets = {v.table: v.sheet, "Notes": notes}
    return write_workbook_xlsx(
        path, {name: pd.DataFrame(rows, dtype=object)
               for name, rows in sheets.items()},
        header=False)


# ------------------------------------------------------------- filters

FILTER_KINDS = ("none", "year_range", "like", "or")


def make_filter(kind: str, rng: random.Random) -> dict | None:
    """A filter of *kind*. The seed picks values, never selectivity:
    a page chain's length depends only on its kind and page size."""
    if kind == "none":
        return None
    if kind == "year_range":
        lo = rng.randint(YEARS[0], YEARS[-1] - 2)
        return {"year": {"gte": lo, "lte": lo + 2}}
    if kind == "like":
        return {"fuel": {"like": f"%{rng.choice(LIKE_WORDS)}%"}}
    if kind == "or":
        return {"$or": [{"fuel": {"like": f"%{rng.choice(LIKE_WORDS)}%"}},
                        {"year": {"lt": YEARS[2]}}]}
    raise ValueError(kind)


def _like(pattern: str, text: str) -> bool:
    rx = "".join(".*" if ch == "%" else "." if ch == "_" else re.escape(ch)
                 for ch in pattern)
    return re.fullmatch(rx, text, re.IGNORECASE | re.DOTALL) is not None


def _match_group(group: dict, row: tuple) -> bool:
    fuel, _label, year, _value = row
    for col, ops in group.items():
        val = {"fuel": fuel, "year": year}[col]
        if not isinstance(ops, dict):
            ops = {"eq": ops}
        for op, arg in ops.items():
            ok = {
                "like": lambda: _like(arg, val),
                "gte": lambda: val >= arg, "lte": lambda: val <= arg,
                "lt": lambda: val < arg, "gt": lambda: val > arg,
            }[op]()
            if not ok:
                return False
    return True


def matches(filters: dict | None, row: tuple) -> bool:
    if not filters:
        return True
    base = {k: v for k, v in filters.items() if k != "$or"}
    if not _match_group(base, row):
        return False
    groups = filters.get("$or")
    return not groups or any(_match_group(g, row) for g in groups)


@dataclass(frozen=True)
class Expected:
    """What a complete page chain must return."""

    n_rows: int
    value_sum: float
    n_pages: int


def expected(v: Version, filters: dict | None, limit: int) -> Expected:
    hit = [r for r in v.rows if matches(filters, r)]
    # the API hands out a cursor after every full page, so an exact
    # multiple of the limit costs one more (empty) page
    n_pages = len(hit) // limit + 1
    return Expected(len(hit), math.fsum(r[3] or 0.0 for r in hit), n_pages)


# ------------------------------------------------------------- readers

@dataclass(frozen=True)
class Chain:
    table: str
    filters: dict | None
    limit: int
    expect: Expected


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k + 1) ** s for k in range(n)]


#: One round of the page mix: every (filter kind, page size) pair once,
#: page sizes interleaved.
ROUND = [(k, lim) for lim in LIMITS for k in FILTER_KINDS]
ROUND = ROUND[0::2] + ROUND[1::2]


def reader_plans(seed: int, versions: dict[str, Version], n_readers: int,
                 rounds: int) -> list[list[Chain]]:
    """Each reader's fixed list of page chains: *rounds* rounds of
    ``ROUND``, reader r starting r/n_readers of the way into it, so
    the readers' concurrent requests pair up the same way whatever the
    seed. The seed picks the tables (by Zipf popularity) and the filter
    values. Filter selectivity is fixed and every table has as many
    rows, so every reader walks the same pages whatever the seed."""
    tables = sorted(versions)
    weights = zipf_weights(len(tables))
    plans = []
    for r in range(n_readers):
        rng = random.Random(f"{seed}/reader/{r}")
        shift = r * len(ROUND) // n_readers
        order = ROUND[shift:] + ROUND[:shift]
        plan = []
        for _ in range(rounds):
            for kind, limit in order:
                t = rng.choices(tables, weights)[0]
                f = make_filter(kind, rng)
                plan.append(Chain(t, f, limit, expected(versions[t], f, limit)))
        plans.append(plan)
    return plans


# ------------------------------------------------------------- catalog

#: Row counts of the repository's smallest TPC-H-style test data
#: (sf0.001): the catalog slice runs on seeded tables this size.
CATALOG_ROWS = {"lineitem": 6000, "documents": 500, "embeddings": 500}
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window")
EMBED_DIM = 64


def catalog_tables(seed: int) -> dict:
    """The tables the catalog slice reads, as pyarrow tables: lineitem,
    documents and embeddings, with the test data's column names and
    types."""
    rng = np.random.default_rng([seed, 0xCA7])
    n = CATALOG_ROWS
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(np.float64)
    shipdate = (np.datetime64("1995-01-01", "us")
                + rng.integers(0, 2500, k).astype("timedelta64[D]")
                .astype("timedelta64[us]"))
    tables = {"lineitem": pa.table({
        "l_orderkey": rng.integers(0, 1500, k),
        "l_partkey": rng.integers(0, 200, k),
        "l_suppkey": rng.integers(0, 10, k),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, k), 2),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], k).tolist(),
        "l_linestatus": rng.choice(["F", "O"], k).tolist(),
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
    })}
    k = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 90))).tolist())
             for _ in range(k)]
    tables["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "zh", "de"], k).tolist(),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centres = rng.normal(size=(10, EMBED_DIM))
    vecs = centres[labels] + 0.5 * rng.normal(size=(k, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return tables


def write_catalog(seed: int, directory: str) -> str:
    """Write :func:`catalog_tables` as ``<directory>/<table>.parquet``,
    the layout the query catalog reads; returns *directory*."""
    os.makedirs(directory, exist_ok=True)
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return directory
