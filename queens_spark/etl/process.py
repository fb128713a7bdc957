"""Ingest/stage orchestration: config-driven pipeline from workbook
to versioned warehouse tables.

Parity: queens/etl/process.py:12-197 (ingest_tables/stage_data) and
queens/etl/validation.py:11-64 (runtime config resolution). The flow:

    etl_config[collection][chapter][table] = {"f": name, "f_args": {...}}
      → resolve workbook (scraper or local path) + template
      → registry transformer (etl/transformations.py) → long frames
      → schema coercion/validation → warehouse.ingest_frame (versioned)
      → warehouse.stage (snapshot + metadata)

Config files are plain JSON in the reference's etl_config.json shape,
so an existing QUEENS catalog drives this engine unchanged.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Mapping

import pandas as pd
from pyspark.sql import DataFrame

from queens_spark.core.errors import UnknownColumnError
from queens_spark.etl.transformations import call_transformer
from queens_spark.facade import Engine
from queens_spark.sources.excel import read_workbook, wrangle_workbook


def table_to_chapter(table: str, collection: str = "dukes") -> str:
    """Map a logical table id to its chapter key: "1.2.3" → "chapter_1";
    letter tables (I.1, J.1 …) map via their letter's chapter
    (queens/core/utils.py:30-55)."""
    m = re.match(r"^(\d+)", str(table))
    if m:
        return f"chapter_{m.group(1)}"
    letter = str(table)[0].upper()
    letter_chapters = {"I": "chapter_5", "J": "chapter_5",
                       "E": "chapter_6", "F": "chapter_6"}
    if letter in letter_chapters:
        return letter_chapters[letter]
    raise UnknownColumnError(f"cannot resolve chapter for table '{table}'")


def load_etl_config(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def generate_config(
    collection: str,
    table: str,
    *,
    etl_config: Mapping[str, Any],
    templates: Mapping[str, Any] | None = None,
    urls: Mapping[str, Any] | None = None,
    scraped_links: Mapping[str, Mapping[str, str]] | None = None,
    fetch=None,
    template_frames: Mapping[str, Any] | None = None,
) -> dict:
    """Resolve one table's full runtime config from the reference's
    four-config shape (parity: generate_config,
    queens/etl/validation.py:11-64).

    - ``urls[collection][chapter]`` names the chapter landing page;
      the per-table workbook url + description come from
      *scraped_links* (a pre-fetched ``{table: {url, description}}``
      mapping, e.g. ``parse_dukes_links`` output) or, when absent, by
      calling ``fetch(chapter_page_url) -> html`` and parsing offline.
      The network fetch is caller-injected — the engine itself never
      opens sockets.
    - ``templates[collection][chapter]`` names the chapter template;
      it resolves to ``template_frames[name]`` when supplied (the
      openpyxl-free path), else to a ``template_path`` under the user
      config dir's ``templates/`` for the caller to load.

    Returns the table's etl_config entry with ``f_args`` augmented
    (url, data_collection, template/template_path) plus
    ``table_description`` — ready for :func:`ingest_table`.
    """
    cfg = resolve_table_config(etl_config, collection, table)
    chapter = table_to_chapter(table, collection)

    url = descr = None
    if urls and collection in urls and chapter in urls[collection]:
        chapter_page_url = urls[collection][chapter]
        links = scraped_links
        if links is None and fetch is not None:
            from queens_spark.sources.scrape import parse_dukes_links

            links = parse_dukes_links(fetch(chapter_page_url))
        if links is not None:
            if table not in links:
                raise KeyError(
                    f"cannot find table URL for {collection} {table} "
                    f"in {chapter_page_url}"
                )
            url = links[table].get("url")
            descr = links[table].get("description")

    cfg["f_args"]["data_collection"] = collection
    if url is not None:
        cfg["f_args"]["url"] = url
    if templates and collection in templates and chapter in templates[collection]:
        name = templates[collection][chapter]
        if template_frames and name in template_frames:
            cfg["f_args"]["template"] = template_frames[name]
        else:
            from queens_spark.settings import USER_CONFIG_DIR

            cfg["f_args"]["template_path"] = os.path.join(
                USER_CONFIG_DIR, "templates", name
            )
    if descr is not None:
        cfg["table_description"] = descr
    elif "description" in cfg:
        cfg["table_description"] = cfg["description"]
    return cfg


def initialize(engine: Engine, collections: list[str] | None = None) -> bool:
    """Idempotent warehouse bootstrap (parity: initialize,
    queens/etl/bootstrap.py:8-44). Creates each collection's empty,
    typed ingest log; the catalog of an unstaged collection reads as
    empty, so catalog probes work before any ingest. Returns True if
    anything was created."""
    created = False
    for collection in collections or list(engine.schemas):
        wh = engine.warehouse
        if not wh._exists(wh.log_path(collection)):
            wh._append_log(collection, [])
            created = True
    return created


def resolve_table_config(
    etl_config: Mapping[str, Any],
    collection: str,
    table: str,
) -> dict:
    """Find the table's transformer config inside its chapter
    (queens/etl/validation.py:11-64, minus the network scrape which is
    injected by the caller)."""
    if collection not in etl_config:
        raise UnknownColumnError(f"unknown data collection '{collection}'")
    chapter = table_to_chapter(table, collection)
    chapters = etl_config[collection]
    if chapter not in chapters or table not in chapters[chapter]:
        raise UnknownColumnError(
            f"table '{table}' is not configured for '{collection}'"
        )
    cfg = dict(chapters[chapter][table])
    # Copy f_args too: generate_config injects resolved url/template/
    # data_collection into it, and a shallow top-level copy would let
    # those (including a template DataFrame object) leak back into the
    # caller's shared etl_config mapping across calls.
    cfg["f_args"] = dict(cfg.get("f_args") or {})
    return cfg


def ingest_table(
    engine: Engine,
    collection: str,
    table: str,
    *,
    raw_sheets: Mapping[str, pd.DataFrame] | None = None,
    workbook_path: str | None = None,
    etl_config: Mapping[str, Any] | None = None,
    config: Mapping[str, Any] | None = None,
    templates: Mapping[str, DataFrame] | None = None,
    url: str | None = None,
    table_description: str | None = None,
    ingest_ts=None,
) -> dict[str, int]:
    """Ingest one configured table. Returns {logical_table: ingest_id}.

    The workbook arrives either as *raw_sheets* (pre-parsed, e.g. from
    a scraper download or a test fixture) or as *workbook_path*. One
    configured table may yield several logical tables (a transformer
    can return a dict of frames — DUKES 5.6 → 3 tables).

    *config* accepts a pre-resolved :func:`generate_config` result
    (url/template/description already injected in f_args — the
    reference's full four-config flow); otherwise the table is
    resolved from *etl_config*. Engine-level f_args keys the
    transformer doesn't declare are dropped by ``call_transformer``.
    """
    if config is not None:
        cfg = dict(config)
        cfg.setdefault("f_args", {})
    else:
        if etl_config is None:
            raise ValueError("need config or etl_config")
        cfg = resolve_table_config(etl_config, collection, table)
    f_name = cfg["f"]
    f_args = dict(cfg.get("f_args", {}))
    url = url or f_args.get("url")
    table_description = table_description or cfg.get("table_description")

    if raw_sheets is None:
        if workbook_path is None:
            raise ValueError("need raw_sheets or workbook_path")
        raw_sheets = read_workbook(workbook_path)

    wrangle_keys = ("has_multi_headers", "sheet_name", "skip_sheets", "fixed_header")
    wrangled = wrangle_workbook(
        raw_sheets, **{k: f_args.pop(k) for k in wrangle_keys if k in f_args}
    )
    if isinstance(wrangled, pd.DataFrame):
        f_args.setdefault("sheet", wrangled)
    else:
        f_args.setdefault("sheets", wrangled)
        if "sheet" in f_args and isinstance(f_args["sheet"], str):
            f_args["sheet"] = wrangled[f_args["sheet"]]
    if templates and table in templates:
        f_args.setdefault("template", templates[table])
    if templates:
        # multi-sheet special processors (DUKES 5.6/5.10) pick their
        # per-sheet templates out of the full mapping themselves
        f_args.setdefault("templates", templates)

    result = call_transformer(f_name, spark=engine.spark, **f_args)
    frames = result if isinstance(result, dict) else {table: result}

    out = {}
    for logical_table, frame in frames.items():
        out[logical_table] = engine.ingest(
            frame,
            collection,
            logical_table,
            url=url,
            table_description=table_description or cfg.get("description"),
            ingest_ts=ingest_ts,
        )
    return out


def ingest_tables(
    engine: Engine,
    collection: str,
    tables: list[str],
    *,
    workbooks: Mapping[str, Mapping[str, pd.DataFrame]],
    etl_config: Mapping[str, Any],
    templates: Mapping[str, DataFrame] | None = None,
    ingest_ts=None,
) -> dict[str, dict[str, int]]:
    """Batch ingest (≙ queens/etl/process.py:12-95). *workbooks* maps
    table id → raw sheets."""
    results = {}
    for table in tables:
        results[table] = ingest_table(
            engine, collection, table,
            raw_sheets=workbooks[table],
            etl_config=etl_config,
            templates=templates,
            ingest_ts=ingest_ts,
        )
    return results


def configured_tables(etl_config: Mapping[str, Any], collection: str) -> list[str]:
    """Every table id configured for *collection*, in chapter order."""
    if collection not in etl_config:
        raise UnknownColumnError(f"unknown data collection '{collection}'")
    return [t for chapter in etl_config[collection].values() for t in chapter]


def ingest_all_tables(
    engine: Engine,
    collection: str,
    *,
    workbooks: Mapping[str, Mapping[str, pd.DataFrame]],
    etl_config: Mapping[str, Any],
    templates: Mapping[str, DataFrame] | None = None,
    ingest_ts=None,
) -> dict[str, dict[str, int]]:
    """Ingest EVERY configured table of the collection
    (≙ ingest_all_tables, queens/etl/process.py:98-136). Tables without
    a supplied workbook are skipped with their absence reported via the
    returned dict (the reference logs-and-continues per table)."""
    tables = [t for t in configured_tables(etl_config, collection)
              if t in workbooks]
    return ingest_tables(
        engine, collection, tables,
        workbooks=workbooks, etl_config=etl_config,
        templates=templates, ingest_ts=ingest_ts,
    )


def stage_data(engine: Engine, collection: str, as_of=None) -> list[str]:
    """Materialise the prod snapshot (≙ queens/etl/process.py:139-197)."""
    return engine.stage(collection, as_of=as_of)
