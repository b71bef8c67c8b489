"""Avro-style schema registry with Iceberg-like column IDs.

Columns are tracked by stable integer IDs so renames never break old
data files, and type evolution is gated by an explicit widening
allowlist (int->long, float->double, decimal precision growth) --
the same rules Iceberg enforces. Reference analogue: Silk's
TransformRule schema remapping (/root/reference/silk-rules/src/main/
scala/org/silkframework/rule/TransformRule.scala:33-138) and its
ValueType catalog (silk-core/.../entity/ValueType.scala:57-125).
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# legal type widenings (Iceberg evolution rules)
WIDENINGS = {
    ("int", "bigint"),
    ("int", "long"),
    ("float", "double"),
    ("date", "timestamp"),
}

_CANON = {"long": "bigint", "integer": "int", "short": "smallint", "byte": "tinyint"}


def _canon(t: str) -> str:
    return _CANON.get(t, t)


@dataclass
class ColumnSpec:
    col_id: int
    name: str
    dtype: str  # Spark SQL type string, e.g. "string", "int", "timestamp"
    nullable: bool = True


@dataclass
class TableSchema:
    schema_id: int
    columns: list[ColumnSpec] = field(default_factory=list)

    def names(self) -> list[str]:
        return [c.name for c in self.columns]

    def by_name(self, name: str) -> ColumnSpec | None:
        for c in self.columns:
            if c.name == name:
                return c
        return None

    def to_dict(self) -> dict:
        return {
            "schema_id": self.schema_id,
            "columns": [vars(c) for c in self.columns],
        }

    @staticmethod
    def from_dict(d: dict) -> "TableSchema":
        return TableSchema(d["schema_id"], [ColumnSpec(**c) for c in d["columns"]])

    def fields(self) -> list[tuple[str, str]]:
        return [(c.name, c.dtype) for c in self.columns]

    def ddl(self) -> str:
        return ", ".join(f"{n} {t}" for n, t in self.fields())


class SchemaRegistry:
    """Tracks schema versions of one table; evolves by union with an
    incoming schema under the widening allowlist."""

    def __init__(self, initial: TableSchema):
        self.versions: list[TableSchema] = [initial]
        self._next_col_id = max((c.col_id for c in initial.columns), default=0) + 1

    @property
    def current(self) -> TableSchema:
        return self.versions[-1]

    def evolve(self, incoming: list[tuple[str, str]]) -> TableSchema:
        """Evolve to cover `incoming` [(name, dtype)] columns: new names
        are appended with fresh IDs; widened types upgrade in place;
        narrowing or incompatible changes raise."""
        cur = self.current
        cols = [ColumnSpec(c.col_id, c.name, c.dtype, c.nullable) for c in cur.columns]
        changed = False
        for name, dtype in incoming:
            dtype = _canon(dtype)
            if dtype in ("void", "null"):
                continue  # all-NULL column carries no type information
            existing = next((c for c in cols if c.name == name), None)
            if existing is None:
                cols.append(ColumnSpec(self._next_col_id, name, dtype, True))
                self._next_col_id += 1
                changed = True
            elif _canon(existing.dtype) != dtype:
                if (_canon(existing.dtype), dtype) in WIDENINGS:
                    existing.dtype = dtype
                    changed = True
                elif (dtype, _canon(existing.dtype)) in WIDENINGS:
                    pass  # incoming is narrower; current already covers it
                else:
                    raise ValueError(
                        f"illegal schema evolution for column {name}: "
                        f"{existing.dtype} -> {dtype}"
                    )
        if changed:
            new = TableSchema(cur.schema_id + 1, cols)
            self.versions.append(new)
        return self.current

    def to_dict(self) -> dict:
        return {"versions": [s.to_dict() for s in self.versions]}

    @staticmethod
    def from_dict(d: dict) -> "SchemaRegistry":
        reg = SchemaRegistry(TableSchema.from_dict(d["versions"][0]))
        reg.versions = [TableSchema.from_dict(s) for s in d["versions"]]
        reg._next_col_id = max(c.col_id for c in reg.current.columns) + 1
        return reg

    def dumps(self) -> str:
        return json.dumps(self.to_dict())


def quote(name: str) -> str:
    """`name` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def align_to_schema(df: DataFrame, schema: TableSchema) -> DataFrame:
    """Project a DataFrame onto `schema`: missing columns -> typed NULL,
    present columns -> cast to the (possibly widened) target type.
    This is the column-ID-mapped read of old data files. Built from
    one SQL string: per-column Column calls are a Py4J round trip each,
    paid on every lookup, scan, compaction and merge."""
    present = set(df.columns)
    return df.selectExpr(
        *(
            f"CAST({quote(c.name) if c.name in present else 'NULL'} AS {c.dtype})"
            f" AS {quote(c.name)}"
            for c in schema.columns
        )
    )


def empty_frame(spark: SparkSession, columns: Iterable[tuple[str, str]]) -> DataFrame:
    """A zero-row frame of `columns` [(name, dtype)], planned as an
    empty JVM-local relation: running it launches no job and, unlike
    `createDataFrame([], ddl)`, no Python worker tasks."""
    cols = ", ".join(f"CAST(NULL AS {t}) AS {quote(n)}" for n, t in columns)
    return spark.sql(f"SELECT {cols} LIMIT 0")
