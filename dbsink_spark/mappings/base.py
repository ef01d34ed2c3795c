"""Mapping protocol: the engine's plugin contract.

A Mapping declares (a) a typed output schema with database metadata,
(b) a row-level ``convert`` (exact reference semantics), and (c) a
DataFrame-level ``transform`` that runs ``convert`` inside an
Arrow-batched ``mapInPandas`` — one shared code path for batch replay
and Structured Streaming, mirroring the reference's single
``on_recieve`` used for both modes (reference dbsink/listen.py:137-186,
contract dbsink/maps.py:22-81).

Design choice (Spark-first, not a port): the reference calls a Python
function once per message from a single-threaded loop; here the same
per-message function runs vectorized-batch-at-a-time on every executor
core, and everything downstream (filter, dedup, sink batching) is
declarative DataFrame work.

Error policy: ``convert`` raising ``MessageFiltered`` drops the row
(expected, e.g. date filters — reference dbsink/tables.py:121-125);
any other exception nulls the row's columns and writes
``"<ExceptionType>: <text>"`` to its ``_error`` column so callers can
dead-letter it (reference logs-and-skips, dbsink/listen.py:151-153).
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import cached_property
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import drop_zip_importers


class MessageFiltered(Exception):
    """Raised by convert() to drop a message on purpose (date filters)."""


@dataclass(frozen=True)
class ColumnSpec:
    """One output column with enough metadata to generate DDL and
    upsert SQL for any target dialect."""

    name: str
    spark_type: T.DataType
    pg_type: str
    duck_type: str
    index: bool = False
    default: Any = None
    # how the sink binds the value: plain | jsonb | hstore | geometry
    bind: str = "plain"


def serial_id_column() -> ColumnSpec:
    return ColumnSpec("id", T.LongType(), "INTEGER", "INTEGER", bind="serial")


@dataclass
class Mapping:
    topic: str
    table: str | None = None
    filters: dict = field(default_factory=dict)

    #: registry lookup name; subclasses override
    lookup = "Mapping"

    def __post_init__(self):
        self.table = (self.table or self.topic).replace(".", "-")

    # -- derived names (reference dbsink/maps.py:28-38 semantics) -----
    @property
    def upsert_constraint_name(self) -> str | None:
        if not self.upsert_keys:
            return None
        return f"{self.table}_unique_constraint".replace("-", "_").lower()

    @property
    def unique_index_name(self) -> str:
        return f"{self.table}_unique_idx".replace("-", "_").lower()

    @property
    def sequence_name(self) -> str:
        return f"{self.table}_id_seq".replace("-", "_").lower()

    # -- declared schema ---------------------------------------------
    @property
    def columns(self) -> list[ColumnSpec]:
        raise NotImplementedError

    @property
    def upsert_keys(self) -> list[str] | None:
        """Unique-key columns driving upsert; None → append-only."""
        return None

    @property
    def spark_schema(self) -> T.StructType:
        """Schema of transform() output (no serial id — that's DB-side)."""
        return T.StructType(
            [
                T.StructField(c.name, c.spark_type, True)
                for c in self.columns
                if c.bind != "serial"
            ]
        )

    @property
    def spark_schema_with_error(self) -> T.StructType:
        return T.StructType(
            list(self.spark_schema.fields) + [T.StructField("_error", T.StringType(), True)]
        )

    # -- per-message checks (reference dbsink/maps.py:40-56) ----------
    def check_key(self, key) -> bool:
        return True

    def check_value(self, value) -> bool:
        return True

    # -- row-level transform ------------------------------------------
    def convert(self, key, value) -> dict:
        """message dict → flat values dict keyed by column name.

        Raise MessageFiltered to drop, any other exception to error.
        """
        raise NotImplementedError

    @cached_property
    def _column_names(self) -> frozenset[str]:
        return frozenset(c.name for c in self.columns)

    @cached_property
    def _field_types(self) -> dict[str, T.DataType]:
        """Output column → Spark type, built once per instance rather
        than once per message (``columns`` constructs new specs on
        every access)."""
        return {f.name: f.dataType for f in self.spark_schema.fields}

    def match_columns(self, values: dict) -> dict:
        """Schema-enforcing projection: drop keys that aren't declared
        columns (reference dbsink/maps.py:65-78)."""
        names = self._column_names
        return {k: v for k, v in values.items() if k in names}

    def apply_date_filter(self, ts: datetime) -> None:
        """Drop messages outside [start_date, end_date] (reference
        dbsink/tables.py:121-125)."""
        start = self.filters.get("start_date")
        end = self.filters.get("end_date")
        if isinstance(start, datetime) and ts < start:
            raise MessageFiltered(f"{ts} before {start}")
        if isinstance(end, datetime) and ts > end:
            raise MessageFiltered(f"{ts} after {end}")

    # -- DataFrame-level transform ------------------------------------
    def transform(self, df: DataFrame, errors: str = "drop") -> DataFrame:
        """(key string, value string·json) DataFrame → typed DataFrame.

        errors='drop' filters failed rows; errors='keep' retains them
        with ``"<ExceptionType>: <text>"`` in ``_error`` for dead-letter
        routing.
        """
        fields = self.spark_schema_with_error.fields
        out_schema = self.spark_schema_with_error
        mapping = self  # captured by the worker closure (pickled per task)

        def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            try:
                for pdf in batches:
                    rows = []
                    for key, raw in zip(pdf["key"], pdf["value"]):
                        rows.append(mapping._convert_row(key, raw))
                    yield pd.DataFrame(
                        rows if rows else None, columns=[f.name for f in fields]
                    )
            finally:
                drop_zip_importers()

        out = df.select("key", "value").mapInPandas(worker, out_schema)
        # date-filtered rows are intentional drops in every mode
        out = out.filter(
            F.col("_error").isNull() | (F.col("_error") != "__filtered__")
        )
        if errors == "drop":
            return out.filter(F.col("_error").isNull()).drop("_error")
        return out

    def _convert_row(self, key, raw) -> dict:
        fields = self._field_types
        base = dict.fromkeys(fields)
        try:
            value = json.loads(raw) if isinstance(raw, (str, bytes)) else raw
            self.check_key(key)
            self.check_value(value)
            converted = self.convert(key, value)
            row = {
                **base,
                **{
                    k: _to_cell(v, fields.get(k))
                    for k, v in converted.items()
                    if k in fields
                },
            }
            row["_error"] = None
            return row
        except MessageFiltered:
            return {**base, "_error": "__filtered__"}
        except Exception as e:  # dead-letter: keep raw message + reason
            return {**base, "_error": f"{type(e).__name__}: {e}"}


def _to_cell(v, dtype: T.DataType | None = None):
    """Normalize convert() outputs to Arrow-friendly cells: tz-aware
    datetimes → naive UTC (session TZ is pinned UTC); scalars coerce to
    the declared column type the same way the reference's database
    layer coerces inserts (e.g. integer gid into a TEXT column)."""
    if v is None:
        return None
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(dtype, T.StringType) and not isinstance(v, str):
        return str(v)
    if isinstance(dtype, T.DoubleType) and not isinstance(v, float):
        return float(v)
    if isinstance(dtype, T.LongType) and not isinstance(v, int):
        return int(v)
    return v


def utcnow() -> datetime:
    return datetime.now(timezone.utc)
