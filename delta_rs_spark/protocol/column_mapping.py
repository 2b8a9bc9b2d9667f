"""Delta column mapping (``delta.columnMapping.mode`` = none | name | id).

Public Delta feature (Delta protocol spec, "Column Mapping"): every schema
field carries two metadata keys —

- ``delta.columnMapping.id``: a table-unique integer assigned once, never
  reused (tracked by the ``delta.columnMapping.maxColumnId`` table property);
- ``delta.columnMapping.physicalName``: the column name actually used in
  parquet data files, partitionValues keys, and per-file stats.

With mapping active, data files are written under *physical* names, so
RENAME COLUMN and DROP COLUMN become metadata-only commits — no data
rewrite. Upgrading an existing table assigns ``physicalName = current
logical name`` (so every already-written file keeps reading) and fresh
``col-<uuid>`` physical names for columns added afterwards.

The reference (delta-rs v0) predates this feature entirely — this module is
parity-plus, implemented from the public protocol spec. Mode ``id`` differs
from ``name`` only in how *foreign* readers match parquet columns (parquet
``field_id`` instead of name); this engine writes physical names either way
and resolves by physical name, which is valid for both modes because the
spec requires physical names to be present in the files it writes.

Spark-first design note: logical↔physical renames (arbitrarily nested) are
done with a single ``cast`` per top-level column — Spark's struct cast
matches fields positionally and adopts the target field names, so the whole
rename stays inside whole-stage codegen with zero Python in the data path.
"""

from __future__ import annotations

import uuid
from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MODE_KEY = "delta.columnMapping.mode"
MAX_ID_KEY = "delta.columnMapping.maxColumnId"
ID_META = "delta.columnMapping.id"
PHYS_META = "delta.columnMapping.physicalName"

FEATURE_NAME = "columnMapping"
# minimum legacy protocol able to carry the feature
MIN_READER = 2
MIN_WRITER = 5


class ColumnMappingError(Exception):
    pass


def mapping_mode(configuration: Optional[dict]) -> str:
    mode = str((configuration or {}).get(MODE_KEY, "none") or "none").lower()
    if mode not in ("none", "name", "id"):
        raise ColumnMappingError(f"unsupported {MODE_KEY}: {mode!r}")
    return mode


def is_mapped(configuration: Optional[dict]) -> bool:
    return mapping_mode(configuration) != "none"


# ---------------------------------------------------------------------------
# assignment
# ---------------------------------------------------------------------------

def assign_mapping(
    schema: T.StructType, start_id: int = 0, physical_from_logical: bool = False
) -> tuple[T.StructType, int]:
    """Assign ids + physical names to every (nested) struct field lacking them.

    ``physical_from_logical=True`` is the UPGRADE path: existing columns get
    their current logical name as the physical name so already-written
    parquet files keep resolving. New tables (and columns added after the
    upgrade) get ``col-<uuid>`` physical names, which is what makes later
    renames free. Returns the annotated schema and the new max column id.
    """
    counter = start_id

    def annotate_field(f: T.StructField) -> T.StructField:
        nonlocal counter
        meta = dict(f.metadata or {})
        if ID_META not in meta:
            counter += 1
            meta[ID_META] = counter
        if PHYS_META not in meta:
            meta[PHYS_META] = f.name if physical_from_logical else f"col-{uuid.uuid4()}"
        return T.StructField(f.name, annotate_type(f.dataType), f.nullable, meta)

    def annotate_type(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType([annotate_field(f) for f in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(annotate_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                annotate_type(dt.keyType), annotate_type(dt.valueType), dt.valueContainsNull
            )
        return dt

    out = T.StructType([annotate_field(f) for f in schema.fields])
    return out, counter


# ---------------------------------------------------------------------------
# physical/logical schema + frame conversion
# ---------------------------------------------------------------------------

def _physical_field_name(f: T.StructField) -> str:
    meta = f.metadata or {}
    phys = meta.get(PHYS_META)
    if not phys:
        raise ColumnMappingError(
            f"column mapping active but field {f.name!r} has no {PHYS_META} metadata"
        )
    return str(phys)


def physical_type(dt: T.DataType, keep_metadata: bool = False) -> T.DataType:
    """Recursively rename struct fields to their physical names."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    _physical_field_name(f),
                    physical_type(f.dataType, keep_metadata),
                    f.nullable,
                    dict(f.metadata) if keep_metadata else None,
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(physical_type(dt.elementType, keep_metadata), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            physical_type(dt.keyType, keep_metadata),
            physical_type(dt.valueType, keep_metadata),
            dt.valueContainsNull,
        )
    return dt


def physical_schema(schema: T.StructType) -> T.StructType:
    return physical_type(schema)  # type: ignore[return-value]


def top_level_physical(schema: T.StructType) -> dict[str, str]:
    """logical name → physical name for top-level columns."""
    return {f.name: _physical_field_name(f) for f in schema.fields}


def top_level_logical(schema: T.StructType) -> dict[str, str]:
    """physical name → logical name for top-level columns."""
    return {_physical_field_name(f): f.name for f in schema.fields}


def bare_type(dt: T.DataType) -> T.DataType:
    """Strip field metadata so cast targets don't carry mapping keys."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, bare_type(f.dataType), f.nullable) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(bare_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(bare_type(dt.keyType), bare_type(dt.valueType), dt.valueContainsNull)
    return dt


def to_logical_exprs(schema: T.StructType, available: Sequence[str] | None = None) -> list[Column]:
    """Select-expressions turning a physically-named frame logical.

    Nested renames ride on Spark's positional struct cast (codegen, no
    shuffle, no Python). ``available`` restricts to physical columns present
    in the frame (e.g. the data schema without partition columns).
    """
    out = []
    for f in schema.fields:
        phys = _physical_field_name(f)
        if available is not None and phys not in available:
            continue
        out.append(F.col(f"`{phys}`").cast(bare_type(f.dataType)).alias(f.name))
    return out


def to_physical_df(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Rename a logically-named frame to physical names (inverse of
    ``to_logical_exprs``), again via positional struct casts. Only columns
    present in ``df`` are emitted (DML lineage columns etc. pass through)."""
    exprs: list[Column] = []
    schema_names = set(schema.names)
    by_name = {f.name: f for f in schema.fields}
    for c in df.columns:
        if c in schema_names:
            f = by_name[c]
            exprs.append(
                F.col(f"`{c}`")
                .cast(bare_type(physical_type(f.dataType)))
                .alias(_physical_field_name(f))
            )
        else:
            exprs.append(F.col(f"`{c}`"))
    return df.select(*exprs)


# ---------------------------------------------------------------------------
# stats / partition-value key translation
# ---------------------------------------------------------------------------

def _remap_stats_node(node: Any, dt: T.DataType, phys_to_logical: bool) -> Any:
    if not isinstance(node, dict) or not isinstance(dt, T.StructType):
        return node
    out: dict[str, Any] = {}
    by_key = {
        (_physical_field_name(f) if phys_to_logical else f.name): f for f in dt.fields
    }
    for k, v in node.items():
        f = by_key.get(k)
        if f is None:
            out[k] = v
            continue
        new_key = f.name if phys_to_logical else _physical_field_name(f)
        out[new_key] = _remap_stats_node(v, f.dataType, phys_to_logical)
    return out


def stats_to_logical(stats: Optional[dict], schema: T.StructType) -> Optional[dict]:
    """Per-file stats dict with physical keys → logical keys (recursive)."""
    if not stats:
        return stats
    out = dict(stats)
    for section in ("minValues", "maxValues", "nullCount"):
        if isinstance(out.get(section), dict):
            out[section] = _remap_stats_node(out[section], schema, True)
    return out


# ---------------------------------------------------------------------------
# rename / drop (metadata-only DDL)
# ---------------------------------------------------------------------------

def renamed_schema(schema: T.StructType, old: str, new: str) -> T.StructType:
    """Rename a top-level column (or ``a.b`` nested path) logically; the
    physical name in the metadata is untouched, so no data moves."""
    path = old.split(".")

    def walk(dt: T.DataType, parts: list[str]) -> T.DataType:
        if not isinstance(dt, T.StructType):
            raise ColumnMappingError(f"cannot descend into {dt.simpleString()}")
        fields = []
        hit = False
        for f in dt.fields:
            if f.name == parts[0]:
                hit = True
                if len(parts) == 1:
                    # a duplicate logical name is an invalid Delta schema
                    # (ambiguous resolution everywhere) — refuse up front
                    # instead of committing metadata that needs manual repair
                    siblings = {g.name for g in dt.fields if g.name != f.name}
                    if new in siblings:
                        raise ColumnMappingError(
                            f"cannot rename {old!r} to {new!r}: a sibling "
                            "column with that name already exists"
                        )
                    fields.append(T.StructField(new, f.dataType, f.nullable, dict(f.metadata)))
                else:
                    fields.append(
                        T.StructField(
                            f.name, walk(f.dataType, parts[1:]), f.nullable, dict(f.metadata)
                        )
                    )
            else:
                fields.append(f)
        if not hit:
            raise ColumnMappingError(f"no such column: {old!r}")
        return T.StructType(fields)

    out = walk(schema, path)
    return out  # type: ignore[return-value]


def dropped_schema(schema: T.StructType, name: str) -> T.StructType:
    """Drop a top-level column (or ``a.b`` nested path) from the schema.
    Data files keep the physical column; readers simply stop selecting it."""
    path = name.split(".")

    def walk(dt: T.DataType, parts: list[str]) -> T.DataType:
        if not isinstance(dt, T.StructType):
            raise ColumnMappingError(f"cannot descend into {dt.simpleString()}")
        if len(parts) == 1:
            kept = [f for f in dt.fields if f.name != parts[0]]
            if len(kept) == len(dt.fields):
                raise ColumnMappingError(f"no such column: {name!r}")
            if not kept:
                raise ColumnMappingError("cannot drop the last column of a struct")
            return T.StructType(kept)
        fields = []
        hit = False
        for f in dt.fields:
            if f.name == parts[0]:
                hit = True
                fields.append(
                    T.StructField(f.name, walk(f.dataType, parts[1:]), f.nullable, dict(f.metadata))
                )
            else:
                fields.append(f)
        if not hit:
            raise ColumnMappingError(f"no such column: {name!r}")
        return T.StructType(fields)

    return walk(schema, path)  # type: ignore[return-value]


def max_field_id(schema: T.StructType) -> int:
    """Largest assigned column id anywhere in the schema (0 if none)."""
    best = 0

    def walk(dt: T.DataType) -> None:
        nonlocal best
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                fid = (f.metadata or {}).get(ID_META)
                if fid is not None:
                    best = max(best, int(fid))
                walk(f.dataType)
        elif isinstance(dt, T.ArrayType):
            walk(dt.elementType)
        elif isinstance(dt, T.MapType):
            walk(dt.keyType)
            walk(dt.valueType)

    walk(schema)
    return best
