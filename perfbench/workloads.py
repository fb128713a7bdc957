"""The two workloads and the metrics they report.

``serve_pages``: set-up ingests and stages a warehouse and warms it;
closed-loop readers then walk page chains over it.
``publish_release``: a release goes from a workbook on disk through the
ETL, ingest and a full stage, then is warmed up and read by the same
readers.

Each also runs half of the catalog slice: set-up writes seeded tables,
runs each of the workload's queries once and checks its rows
against the query's DuckDB twin (the stored-index query builds its
index then); the timed phase runs passes of those queries through the noop
sink before its read phase (which they leave with a warmed planner).

Both report every end-to-end metric; README.md says where each one
comes from in each workload.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import random
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

import gen
from spans import Counts, JobCounter, JobTimes, Tracer

from queens_spark.api import QueryService
from queens_spark.etl.process import ingest_table
from queens_spark.facade import Engine
from queens_spark.queries import ORACLES, QUERIES
from queens_spark.settings import MAX_LIMIT

#: The long rows ``process_sheet`` makes of a benchmark sheet.
LONG_SCHEMA = ("row long, label string, fuel string, unit string, "
               "year long, value double")


#: The catalog slice, one query per operator family it touches plus
#: one served from a stored index, split between the workloads: the
#: relational half beside the reads, and the half that builds stored
#: artifacts (corpus statistics, a vector index) beside the release.
CATALOG = {
    "serve_pages": ("q01_pricing_summary", "q05_dup_detection"),
    "publish_release": ("q63_tfidf_keywords", "q108_ivfpq_search"),
}
CATALOG_SLICE = tuple(q for qs in CATALOG.values() for q in qs)


@dataclass(frozen=True)
class Size:
    tables: int
    #: sheet rows per table; each row has one long row per year
    rows_per_table: int
    readers: int
    #: ``--seconds`` per round: one walk of the page mix by each reader
    #: and ``catalog_passes`` timed passes of the catalog queries
    seconds_per_round: int
    catalog_passes: int


SIZES = {
    # 540 × 10 years = 5,400 long rows: the MAX_LIMIT page of an
    # unfiltered chain fills, and the chain goes on by cursor
    "full": Size(tables=1, rows_per_table=540, readers=2, seconds_per_round=4,
                 catalog_passes=2),
    "tiny": Size(tables=1, rows_per_table=12, readers=2, seconds_per_round=4,
                 catalog_passes=1),
}


@dataclass
class Op:
    kind: str
    start: float
    seconds: float
    counts: Counts
    ok: bool
    cold: bool = False
    #: the catalog query an op ran
    query: str = ""


@dataclass
class Run:
    """State of one benchmark run: the program's objects, the inputs and
    every measured operation."""

    spark: object
    engine: Engine
    workdir: str
    seed: int
    seconds: int
    size: Size
    traced: bool
    counter: JobCounter = field(init=False)
    tracer: Tracer | None = field(init=False)
    ops: list[Op] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    freshness: list[float] = field(default_factory=list)
    input_bytes: int = 0
    release_s: float = 0.0
    timed_start: float = 0.0
    timed_pages: list[Op] = field(default_factory=list)
    page_wall_s: float = 0.0
    catalog_dir: str = ""
    #: per timed pass of the catalog slice, the sum of its query times
    catalog_passes: list[float] = field(default_factory=list)
    #: tables whose next page is the first after a stage
    cold_tables: set[str] = field(default_factory=set)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def __post_init__(self):
        self.counter = JobCounter(self.spark.sparkContext)
        self.tracer = Tracer(self.counter) if self.traced else None
        self.svc = QueryService(self.engine)
        self.config = gen.etl_config(gen.table_ids(self.size.tables))

    # -------------------------------------------------------- operations

    def op(self, kind: str, fn, *args, **kwargs):
        """Run one measured operation. A raised exception counts as a
        failed op and is reported; the run goes on. The op's time ends
        when *fn* returns, before its Spark counts are collected."""
        start = end = time.perf_counter()
        result, ok, counts = None, True, Counts()
        try:
            with self.counter.group() as counts:
                try:
                    if self.tracer is not None:
                        result = self.tracer.span(f"op.{kind}", fn, *args,
                                                  op=True, **kwargs)
                    else:
                        result = fn(*args, **kwargs)
                finally:
                    end = time.perf_counter()
        except Exception:
            ok = False
            self.fail(f"{kind} raised:\n{traceback.format_exc()}")
        op = Op(kind, start, end - start, counts, ok)
        with self._lock:
            self.ops.append(op)
        return result, op

    def fail(self, msg: str) -> None:
        with self._lock:
            self.errors.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr)

    def fail_check(self, msg: str) -> None:
        """A failed check that no op carries: counted as a failed op."""
        now = time.perf_counter()
        with self._lock:
            self.ops.append(Op("check", now, 0.0, Counts(), False))
        self.fail(msg)

    def page(self, table: str, filters, limit: int, cursor=None):
        with self._lock:
            cold = table in self.cold_tables
            self.cold_tables.discard(table)
        resp, op = self.op("page", self.svc.get_data, gen.COLLECTION, table,
                           filters, limit, cursor)
        op.cold = cold
        if resp is not None and resp.status != 200:
            op.ok = False
            self.fail(f"page {table} {filters} -> {resp.status} {resp.body}")
        return resp, op

    def chain(self, table: str, filters, limit: int, exp: gen.Expected,
              tag: str | None = None) -> list[Op]:
        """Walk one page chain to its end and check it against *exp*.
        With *tag*, the first page must carry that label tag."""
        pages, n_rows, values, cursor = [], 0, [], None
        while True:
            resp, op = self.page(table, filters, limit, cursor)
            pages.append(op)
            if not op.ok:
                return pages
            data = resp.body["data"]
            if tag is not None and len(pages) == 1 and data and not any(
                    tag in r["label"] for r in data):
                self.fail(f"first page of {table} lacks label tag {tag}")
                op.ok = False
            n_rows += len(data)
            values.extend(r.get("value") or 0.0 for r in data)
            cursor = resp.body["next_cursor"]
            if cursor is None:
                break
            if len(pages) > exp.n_pages:
                break
        got = (n_rows, len(pages))
        if got != (exp.n_rows, exp.n_pages) or not math.isclose(
                math.fsum(values), exp.value_sum, rel_tol=1e-9, abs_tol=1e-6):
            pages[-1].ok = False
            self.fail(f"chain {table} {filters} limit={limit}: got rows/pages "
                      f"{got} sum {math.fsum(values)}, expected "
                      f"{(exp.n_rows, exp.n_pages)} sum {exp.value_sum}")
        return pages

    # ------------------------------------------------------- publishing

    def write_workbook(self, v: gen.Version) -> str:
        path = os.path.join(self.workdir, "in", f"{v.table}_r{v.version}.xlsx")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return gen.write_workbook(v, path)

    def ingest(self, v: gen.Version, path: str, ts) -> Op:
        """Workbook on disk → ``ingest_table`` (read, wrangle, transform,
        ``Engine.ingest``)."""
        _, op = self.op("ingest", ingest_table, self.engine, gen.COLLECTION,
                        v.table, workbook_path=path, etl_config=self.config,
                        ingest_ts=ts)
        self.input_bytes += v.cell_bytes()
        return op

    def ingest_rows(self, v: gen.Version, ts) -> Op:
        """*v*'s long rows straight into ``Engine.ingest``, bypassing the
        workbook and ETL layers."""
        import pandas as pd

        per_row = len(gen.YEARS)
        pdf = pd.DataFrame(
            [(i // per_row, label, fuel, "ktoe", year, value)
             for i, (fuel, label, year, value) in enumerate(v.rows)],
            columns=["row", "label", "fuel", "unit", "year", "value"])
        df = self.spark.createDataFrame(pdf, LONG_SCHEMA)
        _, op = self.op("ingest", self.engine.ingest, df, gen.COLLECTION,
                        v.table, ingest_ts=ts)
        self.input_bytes += v.cell_bytes()
        return op

    def stage(self) -> Op:
        _, op = self.op("stage", self.engine.stage, gen.COLLECTION)
        with self._lock:
            self.cold_tables.update(gen.table_ids(self.size.tables))
        return op

    def publish(self, versions: dict[str, gen.Version], ingest) -> None:
        """Ingest every table of a release with ``ingest(version, ts)``,
        stage it in full, then read each table back: a ``MAX_LIMIT``
        chain that must hold the new version, its first page tagged."""
        starts = {}
        for i, t in enumerate(sorted(versions)):
            starts[t] = ingest(versions[t], ingest_ts(i)).start
        st = self.stage()
        self.release_s = st.start + st.seconds - min(starts.values())
        for t in sorted(versions):
            v = versions[t]
            chain = self.chain(t, None, MAX_LIMIT,
                               gen.expected(v, None, MAX_LIMIT), v.label_tag)
            self.freshness.append(chain[0].start + chain[0].seconds - starts[t])


def ingest_ts(i: int):
    """Strictly increasing ingest timestamps, so the latest version of
    a table is always the winner at stage time."""
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i)


# ---------------------------------------------------------- workloads

def release_versions(run: Run, n_tables: int) -> dict[str, gen.Version]:
    return {t: gen.make_version(run.seed, t, 1, run.size.rows_per_table)
            for t in gen.table_ids(n_tables)}


def rounds(run: Run) -> int:
    return max(1, run.seconds // run.size.seconds_per_round)


def read_phase(run: Run, versions: dict[str, gen.Version]) -> None:
    """The timed reads: ``readers`` closed-loop clients walk their fixed
    page-chain plans (each request needs the previous reply's cursor)."""
    plans = gen.reader_plans(run.seed, versions, run.size.readers, rounds(run))
    first = len(run.ops)

    def reader(plan):
        try:
            for c in plan:
                run.chain(c.table, c.filters, c.limit, c.expect)
        except Exception:
            run.fail_check(f"reader raised:\n{traceback.format_exc()}")

    start = time.perf_counter()
    threads = [threading.Thread(target=reader, args=(p,), name=f"reader-{i}")
               for i, p in enumerate(plans)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    run.page_wall_s = time.perf_counter() - start
    run.timed_pages = [o for o in run.ops[first:] if o.kind == "page"]
    planned = sum(c.expect.n_pages for p in plans for c in p)
    if len(run.timed_pages) != planned:
        run.fail_check(f"read phase walked {len(run.timed_pages)} pages, "
                       f"its plans hold {planned}")


def warm_up(run: Run, versions: dict[str, gen.Version]) -> None:
    """One page of every table under every filter shape, so no read-phase
    page pays a memo probe or the first compile of its filter."""
    rng = random.Random(f"{run.seed}/warm")
    for t in sorted(versions):
        for kind in gen.FILTER_KINDS:
            run.page(t, gen.make_filter(kind, rng), gen.LIMITS[0])


def canonical(v):
    """A result cell as a plain JSON value, so a Spark row and a DuckDB
    row that hold the same values hash alike."""
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return [canonical(x) for x in v]
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return int(f) if f.is_integer() else repr(f)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def result_digest(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted."""
    cols = sorted(df.columns)
    rows = sorted(json.dumps([canonical(v) for v in row])
                  for row in df[cols].itertuples(index=False, name=None))
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def prepare_catalog(run: Run, queries: tuple[str, ...]) -> None:
    """Set-up of the catalog queries: write the seeded tables, then
    run each query once, collect its rows and hash-compare them with its
    ``queries.ORACLES`` DuckDB twin. The first run of the stored-index
    query builds the index (under the run's own temp directory)."""
    run.catalog_dir = gen.write_catalog(run.seed,
                                        os.path.join(run.workdir, "catalog"))
    con = duckdb.connect()
    for name in gen.catalog_tables(run.seed):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(run.catalog_dir, name)}.parquet'")
    for name in queries:
        got, op = run.op("catalog_check", lambda q=name: QUERIES[q](
            run.spark, run.catalog_dir).toPandas())
        op.query = name
        run.spark.catalog.clearCache()
        if not op.ok:
            continue
        try:
            want = con.execute(ORACLES[name]).df()
        except duckdb.Error:
            op.ok = False
            run.fail(f"catalog {name}: DuckDB twin raised:\n"
                     f"{traceback.format_exc()}")
            continue
        if result_digest(got) != result_digest(want):
            op.ok = False
            run.fail(f"catalog {name}: {len(got)} rows differ from its "
                     f"DuckDB twin's {len(want)}")
    con.close()


def run_query(spark, name: str, sf_dir: str) -> None:
    """One catalog query forced end to end through the noop sink."""
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def catalog_phase(run: Run, queries: tuple[str, ...]) -> None:
    """Timed passes of the catalog queries."""
    for _ in range(rounds(run) * run.size.catalog_passes):
        total = 0.0
        for name in queries:
            _, op = run.op("catalog", run_query, run.spark, name,
                           run.catalog_dir)
            op.query = name
            total += op.seconds
            run.spark.catalog.clearCache()
        run.catalog_passes.append(total)


def serve_pages(run: Run) -> None:
    """Set-up prepares the relational catalog queries, ingests the release's long
    rows through ``Engine.ingest`` (no workbook, no ETL), stages it and
    warms it up. Timed: the catalog passes, then the read phase."""
    prepare_catalog(run, CATALOG["serve_pages"])
    versions = release_versions(run, run.size.tables)
    run.publish(versions, run.ingest_rows)
    warm_up(run, versions)
    run.timed_start = time.perf_counter()
    catalog_phase(run, CATALOG["serve_pages"])
    read_phase(run, versions)


def publish_release(run: Run) -> None:
    """Set-up writes the workbooks and prepares the stored-artifact
    catalog queries. Timed: publish the release through the ETL, ingest
    and a full stage, the catalog passes, then a warm-up and the read
    phase over the new release."""
    versions = release_versions(run, run.size.tables)
    paths = {t: run.write_workbook(v) for t, v in versions.items()}
    prepare_catalog(run, CATALOG["publish_release"])
    run.timed_start = time.perf_counter()
    run.publish(versions, lambda v, ts: run.ingest(v, paths[v.table], ts))
    catalog_phase(run, CATALOG["publish_release"])
    warm_up(run, versions)
    read_phase(run, versions)


WORKLOADS = {"serve_pages": serve_pages, "publish_release": publish_release}


# ------------------------------------------------------------ metrics

def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under *path*."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def end_to_end(run: Run, setup_s: float, peak_rss_mb: float) -> dict:
    _, stored = tree_bytes(run.engine.warehouse.root)
    return {
        "setup_s": (setup_s, "s"),
        "page_p50_ms": (median(o.seconds for o in run.timed_pages) * 1e3, "ms"),
        "pages_per_s": (len(run.timed_pages) / run.page_wall_s, "1/s"),
        "release_s": (run.release_s, "s"),
        "catalog_s": (median(run.catalog_passes), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "bytes_stored_per_input_byte": (stored / run.input_bytes, "ratio"),
    }


def catalog_ops(run: Run, name: str) -> list[Op]:
    return [o for o in run.ops if o.kind == "catalog" and o.query == name]


def counts(run: Run) -> dict:
    """Exact Spark work per op type, recorded on every run."""
    ops = lambda kind: [o for o in run.ops if o.kind == kind]  # noqa: E731
    pages = ops("page")
    warm = [o for o in pages if not o.cold]
    cold = [o for o in pages if o.cold]
    return {
        "facade.ingest_jobs": (median(o.counts.jobs for o in ops("ingest")), "count"),
        "facade.stage_jobs": (median(o.counts.jobs for o in ops("stage")), "count"),
        "facade.page_jobs_warm": (median(o.counts.jobs for o in warm), "count"),
        "facade.page_jobs_cold": (median(o.counts.jobs for o in cold), "count"),
        "spark.tasks_per_page": (median(o.counts.tasks for o in warm), "count"),
        "spark.tasks_per_ingest": (median(o.counts.tasks for o in ops("ingest")),
                                   "count"),
        "spark.tasks_per_stage": (median(o.counts.tasks for o in ops("stage")),
                                  "count"),
        **{f"catalog.{name}_jobs": (
            median(o.counts.jobs for o in catalog_ops(run, name)), "count")
           for name in CATALOG_SLICE},
        "spark.failed_tasks": (sum(o.counts.failed_tasks for o in run.ops), "count"),
        "op_error_rate": (sum(not o.ok for o in run.ops) / max(1, len(run.ops)),
                          "ratio"),
    }


def per_layer(run: Run, session_s: float, span_cost_s: float) -> dict:
    """Per-layer numbers from the spans of a traced run."""
    tr = run.tracer
    durs = lambda name: [s.dur for s in tr.by_name(name)]  # noqa: E731
    memo = tr.by_name("warehouse.queryable_columns") + tr.by_name(
        "warehouse.table_description")
    timed_qp = [s for s in tr.by_name("facade.query_page")
                if s.start >= run.timed_start]
    times = JobTimes(run.spark.sparkContext)
    exec_s, driver_s = [], []
    for s in timed_qp:
        try:
            busy = times.busy_s(s.job_ids)
        except OSError:
            continue  # job evicted from the UI store, or the UI is down
        exec_s.append(busy)
        driver_s.append(s.dur - busy)
    children = {}
    for s in tr.spans:
        if s.name == "facade.query_page" and s.parent is not None:
            children[s.parent] = s.dur
    envelope = [s.dur - children[s.id] for s in tr.by_name("api.get_data")
                if s.id in children]
    wh = run.engine.warehouse
    log_files, _ = tree_bytes(wh.log_path(gen.COLLECTION))
    files, size = tree_bytes(wh.root)
    timed_spans = sum(1 for s in tr.spans if s.start >= run.timed_start)
    timed_wall = time.perf_counter() - run.timed_start
    out = {
        "session.start_s": (session_s, "s"),
        "sources.read_workbook_ms": (median(durs("sources.read_workbook")) * 1e3,
                                     "ms"),
        "sources.wrangle_ms": (median(durs("sources.wrangle")) * 1e3, "ms"),
        "etl.transform_ms": (median(durs("etl.transform")) * 1e3, "ms"),
        "etl.transform_jobs": (median(s.jobs for s in tr.by_name("etl.transform")),
                               "count"),
        "facade.ingest_ms": (median(durs("facade.ingest")) * 1e3, "ms"),
        "facade.stage_full_s": (median(durs("facade.stage")), "s"),
        "facade.query_page_ms": (median(s.dur for s in timed_qp) * 1e3, "ms"),
        "facade.page_exec_ms": (median(exec_s) * 1e3, "ms"),
        "facade.page_driver_ms": (median(driver_s) * 1e3, "ms"),
        "warehouse.next_ingest_id_ms": (
            median(durs("warehouse.next_ingest_id")) * 1e3, "ms"),
        "warehouse.log_files": (log_files, "count"),
        "warehouse.queryable_columns_ms": (
            median(durs("warehouse.queryable_columns")) * 1e3, "ms"),
        "warehouse.table_description_ms": (
            median(durs("warehouse.table_description")) * 1e3, "ms"),
        "warehouse.memo_hit_ratio": (
            sum(s.jobs == 0 for s in memo) / max(1, len(memo)), "ratio"),
        "warehouse.refresh_metadata_s": (
            median(durs("warehouse.refresh_metadata")), "s"),
        "warehouse.files_total": (files, "count"),
        "warehouse.bytes_on_disk": (size, "B"),
        "filters.compile_us": (median(durs("filters.compile")) * 1e6, "us"),
        "api.envelope_ms": (median(envelope) * 1e3, "ms"),
        "trace.spans": (len(tr.spans), "count"),
        "trace.span_cost_us": (span_cost_s * 1e6, "us"),
        "trace.overhead_pct": (100.0 * timed_spans * span_cost_s / timed_wall, "%"),
        "trace.page_p50_ms": (median(o.seconds for o in run.timed_pages) * 1e3,
                              "ms"),
        "write.ingest_p50_ms": (
            median(o.seconds for o in run.ops if o.kind == "ingest") * 1e3, "ms"),
        # release_s plus the first page after the stage: reported per
        # layer, not as a second bound on the same work
        "write.freshness_s": (median(run.freshness), "s"),
    }
    out.update({f"catalog.{name}_s": (
        median(o.seconds for o in catalog_ops(run, name)), "s")
        for name in CATALOG_SLICE})
    out.update(counts(run))
    return out
