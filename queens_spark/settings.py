"""Engine-wide policies: type system, operator policy, paths.

Parity notes (citations into /root/reference/):
- 4-type scalar system TEXT/INTEGER/REAL/DATETIME: queens/settings.py:58-63.
- Operator policy per type (VALID_OPS): queens/settings.py:65-69.
- Operator → SQL fragment map (OP_SQL): queens/settings.py:71-79; here the
  compilation target is a pyspark Column expression, see core/filters.py.
- Warehouse location: the reference keeps a per-user SQLite file
  (queens/settings.py paths); we keep a parquet warehouse directory.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import types as T

# ---------------------------------------------------------------- types

#: Engine SQL type → Spark type. The reference's closed 4-type world
#: (TEXT/INTEGER/REAL/DATETIME) plus extension types used by the
#: scale operators (arrays of float for embeddings, binary for media).
SPARK_TYPES: dict[str, T.DataType] = {
    "TEXT": T.StringType(),
    "INTEGER": T.LongType(),
    "REAL": T.DoubleType(),
    "DATETIME": T.TimestampType(),
    "ARRAY<FLOAT>": T.ArrayType(T.FloatType()),
    "BINARY": T.BinaryType(),
}


def _integer(value) -> int:
    """An int, its text or an integral float (2020.0); a fractional
    value is rejected, not truncated."""
    out = int(value)
    if not isinstance(value, str) and out != value:
        raise ValueError("not an integral value")
    return out


def _real(value) -> float:
    out = float(value)
    if not math.isfinite(out):
        raise ValueError("not a finite number")
    return out


#: Python-side cast used when validating filter values (mirrors DTYPES,
#: queens/settings.py:58-63): filter values arrive as JSON scalars and
#: are coerced to the column's declared type before compilation.
PY_CASTS = {
    "TEXT": str,
    "INTEGER": _integer,
    "REAL": _real,
    "DATETIME": str,  # ISO-8601 string; compared as timestamp
}

# ------------------------------------------------------------ operators

#: Allowed filter operators per engine type (queens/settings.py:65-69).
VALID_OPS: dict[str, set[str]] = {
    "INTEGER": {"eq", "neq", "lt", "lte", "gt", "gte"},
    "REAL": {"eq", "neq", "lt", "lte", "gt", "gte"},
    "DATETIME": {"eq", "neq", "lt", "lte", "gt", "gte"},
    "TEXT": {"eq", "neq", "like"},
}

#: All operators the DSL knows about.
ALL_OPS = frozenset().union(*VALID_OPS.values())

#: Key introducing a disjunction group in the filter DSL.
OR_KEY = "$or"

# ---------------------------------------------------------------- paths

DEFAULT_WAREHOUSE = os.environ.get(
    "QUEENS_SPARK_WAREHOUSE", os.path.expanduser("~/.queens_spark/warehouse")
)

#: Per-user config dir (reference: queens/settings.py:116-127 copies
#: packaged defaults to USER_DIR on first use). Override precedence:
#: $QUEENS_SPARK_CONFIG_DIR > the per-user default; within the dir,
#: a user-edited file always wins over the packaged default.
PACKAGED_CONFIG_DIR = os.path.join(os.path.dirname(__file__), "config")
USER_CONFIG_DIR = os.environ.get(
    "QUEENS_SPARK_CONFIG_DIR", os.path.expanduser("~/.queens_spark/config")
)
CONFIG_FILES = ("etl_config.json", "templates.json", "urls.json")


def ensure_user_configs(user_dir: str | None = None) -> str:
    """Idempotent config bootstrap: copy each packaged default JSON
    (and the templates dir) into the per-user config dir unless the
    user already has one — existing files are never overwritten, so
    user edits take precedence over shipped defaults. Returns the dir.

    Unlike the reference this does NOT run at import time: an explicit
    call keeps `import queens_spark` free of filesystem side effects
    (import-time writes break read-only deployments); the CLI and
    `load_configs` call it on first use instead.
    """
    import shutil

    dest = user_dir or USER_CONFIG_DIR
    os.makedirs(dest, exist_ok=True)
    for name in CONFIG_FILES:
        src = os.path.join(PACKAGED_CONFIG_DIR, name)
        dst = os.path.join(dest, name)
        if os.path.exists(src) and not os.path.exists(dst):
            shutil.copy(src, dst)
    tpl_src = os.path.join(PACKAGED_CONFIG_DIR, "templates")
    tpl_dst = os.path.join(dest, "templates")
    if os.path.isdir(tpl_src) and not os.path.isdir(tpl_dst):
        shutil.copytree(tpl_src, tpl_dst)
    return dest


def load_configs(user_dir: str | None = None) -> dict[str, dict]:
    """The reference's four-config runtime shape: bootstrap the user
    dir, then read etl_config/templates/urls as plain dicts keyed by
    basename-without-extension."""
    import json

    dest = ensure_user_configs(user_dir)
    out = {}
    for name in CONFIG_FILES:
        path = os.path.join(dest, name)
        with open(path) as fh:
            out[name.rsplit(".", 1)[0]] = json.load(fh)
    return out

#: Persisted user overrides (reference: config.ini in USER_DIR,
#: queens/settings.py:40,207-238 set_config). Keys: warehouse, export.
CONFIG_INI = "config.ini"
_INI_SECTION = "queens_spark"


def _read_ini(user_dir: str | None = None) -> dict[str, str]:
    import configparser

    path = os.path.join(user_dir or USER_CONFIG_DIR, CONFIG_INI)
    cfg = configparser.ConfigParser()
    if os.path.exists(path):
        cfg.read(path, encoding="utf-8")
    return dict(cfg[_INI_SECTION]) if _INI_SECTION in cfg else {}


def set_config(
    warehouse_path: str | None = None,
    export_path: str | None = None,
    user_dir: str | None = None,
) -> str:
    """Persist user-chosen warehouse / default-export paths to
    config.ini in the user config dir (same effect as the CLI `config`
    command — reference queens/settings.py:207-238 set_config, which
    persists DB_PATH/EXPORT_DIR). Both paths are created if missing.
    Returns the ini path."""
    import configparser

    dest = user_dir or USER_CONFIG_DIR
    os.makedirs(dest, exist_ok=True)
    path = os.path.join(dest, CONFIG_INI)
    cfg = configparser.ConfigParser()
    if os.path.exists(path):
        cfg.read(path, encoding="utf-8")
    if _INI_SECTION not in cfg:
        cfg[_INI_SECTION] = {}
    if warehouse_path:
        p = os.path.abspath(os.path.expanduser(warehouse_path))
        os.makedirs(p, exist_ok=True)
        cfg[_INI_SECTION]["warehouse"] = p
    if export_path:
        p = os.path.abspath(os.path.expanduser(export_path))
        os.makedirs(p, exist_ok=True)
        cfg[_INI_SECTION]["export"] = p
    with open(path, "w", encoding="utf-8") as fh:
        cfg.write(fh)
    return path


def resolve_warehouse(cli_arg: str | None = None, user_dir: str | None = None) -> str:
    """Warehouse root resolution: explicit argument >
    $QUEENS_SPARK_WAREHOUSE > config.ini > per-user default."""
    if cli_arg:
        return cli_arg
    env = os.environ.get("QUEENS_SPARK_WAREHOUSE")
    if env:
        return env
    ini = _read_ini(user_dir).get("warehouse")
    return ini or os.path.expanduser("~/.queens_spark/warehouse")


def resolve_export_dir(cli_arg: str | None = None, user_dir: str | None = None) -> str:
    """Default export directory: explicit argument > config.ini >
    <user config dir>/exports (reference EXPORT_DEFAULT_DIR,
    queens/settings.py:37)."""
    if cli_arg:
        return cli_arg
    ini = _read_ini(user_dir).get("export")
    return ini or os.path.join(user_dir or USER_CONFIG_DIR, "exports")


def current_config(user_dir: str | None = None) -> dict[str, str]:
    """The `config --show-current` view (reference queens/cli.py:41-52:
    user dir, DB path, export dir, templates dir)."""
    dest = user_dir or USER_CONFIG_DIR
    return {
        "config_dir": dest,
        "warehouse": resolve_warehouse(user_dir=dest),
        "export_dir": resolve_export_dir(user_dir=dest),
        "templates_dir": os.path.join(dest, "templates"),
    }


#: API pagination limits (queens/api/app.py:18-19).
DEFAULT_LIMIT = 1000
MAX_LIMIT = 5000

#: Service columns dropped from query results
#: (queens/api/app.py:174-179, queens/facade.py:161).
SERVICE_COLUMNS = ("ingest_id", "ingest_ts", "table_description")

#: Stable surrogate row id materialised at stage time; replaces the
#: reference's reliance on SQLite's implicit rowid for ordering and
#: cursor pagination (queens/api/app.py:133-147).
ROW_UID = "row_uid"
