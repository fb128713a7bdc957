"""Declarative schema system.

The engine is closed-world: every collection declares its columns,
engine types (TEXT/INTEGER/REAL/DATETIME) and nullability up front;
ingest coerces and validates against that contract, rejecting frames
with unexpected columns, null violations, or duplicate dimension keys.
Parity: queens/config/schema.json + queens/etl/validation.py:89-147.

Schemas are Python data (a dict of :class:`ColumnSpec`) rather than a
JSON file; ``load_schema_json`` accepts the reference's schema.json
format verbatim for config compatibility (SURVEY.md §1.4).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Mapping

from pyspark.sql import DataFrame, functions as F, types as T

from queens_spark.core.errors import SchemaValidationError
from queens_spark.settings import SPARK_TYPES


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    sql_type: str  # TEXT | INTEGER | REAL | DATETIME | ARRAY<FLOAT> | BINARY
    nullable: bool = True

    @property
    def spark_type(self) -> T.DataType:
        return SPARK_TYPES[self.sql_type]


class CollectionSchema:
    """Schema of one data collection's single long fact table."""

    def __init__(self, name: str, columns: list[ColumnSpec]):
        self.name = name
        self.columns = {c.name: c for c in columns}

    # -- compilation ---------------------------------------------------

    def struct_type(self, extra: list[T.StructField] | None = None) -> T.StructType:
        fields = [
            T.StructField(c.name, c.spark_type, c.nullable)
            for c in self.columns.values()
        ]
        return T.StructType(fields + (extra or []))

    def sql_type_of(self, column: str) -> str:
        return self.columns[column].sql_type

    # -- enforcement ---------------------------------------------------

    def coerce(self, df: DataFrame) -> DataFrame:
        """Project *df* onto the schema with lenient casts.

        - unexpected columns → :class:`SchemaValidationError`
          (closed world, queens/etl/validation.py:113-115);
        - missing nullable columns are added as typed nulls (the
          dimension columns are sparse by design, SURVEY.md §1.2);
        - values are coerced with ``try_cast`` — unparseable values
          become null, matching ``pd.to_numeric(errors='coerce')``
          (queens/etl/validation.py:120-138).
        """
        unexpected = [c for c in df.columns if c not in self.columns]
        if unexpected:
            raise SchemaValidationError(
                f"columns not in schema for '{self.name}': {unexpected}"
            )
        cols = []
        for spec in self.columns.values():
            if spec.name in df.columns:
                cols.append(F.col(spec.name).try_cast(spec.spark_type).alias(spec.name))
            elif spec.nullable:
                cols.append(F.lit(None).cast(spec.spark_type).alias(spec.name))
            else:
                raise SchemaValidationError(
                    f"required column '{spec.name}' missing for '{self.name}'"
                )
        return df.select(*cols)

    def validate(self, df: DataFrame, key_columns: list[str] | None = None) -> None:
        """Enforce nullability and key uniqueness in ONE distributed
        aggregate (no driver-side iteration over rows): per-key row and
        non-null counts, rolled up to the totals and the largest key
        group.

        - nullability: any null in a non-nullable column fails
          (queens/etl/validation.py:143-147);
        - a REAL measure column that is entirely null after coercion
          fails — the "not-all-null" guard
          (queens/etl/validation.py:124-130);
        - *key_columns* (the dimension columns minus working columns
          row/label) must uniquely identify rows
          (queens/etl/validation.py:89-101).
        """
        non_null = [c.name for c in self.columns.values()
                    if not c.nullable and c.name in df.columns]
        real_cols = [c.name for c in self.columns.values()
                     if c.sql_type == "REAL" and c.name in df.columns]
        counted = sorted(set(non_null) | set(real_cols))
        per_key = [F.count(F.lit(1)).alias("__n")]
        per_key += [F.count(c).alias(f"__nn_{c}") for c in counted]
        if key_columns:
            df = df.groupBy(*key_columns).agg(*per_key)
            totals = [F.sum("__n").alias("__n"), F.max("__n").alias("__dup")]
            totals += [F.sum(f"__nn_{c}").alias(f"__nn_{c}") for c in counted]
            row = df.agg(*totals).collect()[0].asDict()
        else:
            row = df.agg(*per_key).collect()[0].asDict()
        total = row["__n"] or 0
        for c in non_null:
            nn = row[f"__nn_{c}"] or 0
            if nn != total:
                raise SchemaValidationError(
                    f"non-nullable column '{c}' contains nulls "
                    f"({total - nn} of {total} rows)"
                )
        for c in real_cols:
            if total > 0 and not row[f"__nn_{c}"]:
                raise SchemaValidationError(
                    f"column '{c}' is entirely null after numeric coercion"
                )
        if (row.get("__dup") or 0) > 1:
            raise SchemaValidationError(
                f"duplicate rows for key {key_columns}"
            )


# ------------------------------------------------------------ canonical

def _text(name: str, nullable: bool = True) -> ColumnSpec:
    return ColumnSpec(name, "TEXT", nullable)


#: The canonical long fact-table schema every reference collection uses:
#: provenance + logical-table discriminator + ordinal + label + time
#: dimension + sparse classification dimensions + one REAL measure
#: (queens/config/schema.json:2-80; FIXTURES.md §3).
DUKES_SCHEMA = CollectionSchema(
    "dukes",
    [
        ColumnSpec("ingest_id", "INTEGER", nullable=False),
        _text("table_name", nullable=False),
        ColumnSpec("row", "INTEGER", nullable=False),
        _text("label", nullable=False),
        ColumnSpec("year", "INTEGER", nullable=False),
        _text("group"), _text("subgroup"), _text("category"),
        _text("subcategory"), _text("item"), _text("technology"),
        _text("country"), _text("region"), _text("sector"),
        _text("subsector"), _text("fuel"), _text("subfuel"),
        _text("unit"),
        ColumnSpec("value", "REAL"),
    ],
)

#: Working columns excluded from the uniqueness key
#: (queens/etl/validation.py:89-95).
WORKING_COLUMNS = ("row", "label", "ingest_id")


def key_columns(schema: CollectionSchema, df_columns: list[str]) -> list[str]:
    """Dimension columns that must uniquely identify a row."""
    return [
        c for c in df_columns
        if c in schema.columns
        and c not in WORKING_COLUMNS
        and schema.columns[c].sql_type != "REAL"
    ]


def load_schema_json(path: str) -> dict[str, CollectionSchema]:
    """Load schemas from the reference's schema.json format:
    ``{collection: {column: {"type": t, "nullable": b}}}``."""
    with open(path) as fh:
        raw = json.load(fh)
    out = {}
    for coll, cols in raw.items():
        specs = [
            ColumnSpec(name, str(meta["type"]).upper(), bool(meta.get("nullable", True)))
            for name, meta in cols.items()
        ]
        out[coll] = CollectionSchema(coll, specs)
    return out


SCHEMAS: Mapping[str, CollectionSchema] = {"dukes": DUKES_SCHEMA}
