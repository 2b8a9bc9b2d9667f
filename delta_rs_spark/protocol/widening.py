"""Type widening (public Delta ``typeWidening`` table feature).

Widening a column's type is a metadata-only operation: the schema in the
latest ``metaData`` action carries the wide type, while parquet files written
before the change keep their narrow physical type. Readers upcast at scan
time — Spark 4's vectorized parquet reader natively reads int32 pages into
long/double/decimal vectors (and float→double, date→timestamp_ntz), so the
widened table needs no file rewrites and no per-row Python anywhere.

Spec surface mirrored here (public Delta PROTOCOL.md, type-widening section;
the reference engine predates the feature — parity-plus):

- reader+writer feature ``typeWidening`` (protocol 3/7), enablement property
  ``delta.enableTypeWidening``;
- the allowed widenings (integer chain, float→double, integer→double,
  date→timestamp_ntz, decimal precision/scale growth, integer→decimal);
- every applied change recorded on the widened ``StructField``'s metadata
  under ``delta.typeChanges`` as ``{"tableVersion", "fromType", "toType"}``
  so readers and DROP FEATURE can reason about which files may carry narrow
  physical types.

DROP FEATURE ``typeWidening`` refuses while any live file still predates the
latest type change (its physical schema may be narrow); compacting the table
(``optimize``) rewrites files at the wide type and unblocks the drop.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import types as T

FEATURE_NAME = "typeWidening"
ENABLE_KEY = "delta.enableTypeWidening"
TYPE_CHANGES_KEY = "delta.typeChanges"
MIN_READER = 3
MIN_WRITER = 7

_INT_ORDER = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _delta_name(dt: T.DataType) -> str:
    """Delta schema-JSON primitive name for a Spark type."""
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    return dt.jsonValue() if isinstance(dt.jsonValue(), str) else dt.simpleString()


def is_widening(src: T.DataType, dst: T.DataType) -> bool:
    """True when ``src -> dst`` is one of the spec's allowed widenings."""
    if src == dst:
        return False
    s = src.jsonValue() if isinstance(src.jsonValue(), str) else None
    d = dst.jsonValue() if isinstance(dst.jsonValue(), str) else None
    # integer chain: byte -> short -> integer -> long (any forward jump)
    if s in _INT_ORDER and d in _INT_ORDER:
        return _INT_ORDER[s] < _INT_ORDER[d]
    if s == "float" and d == "double":
        return True
    if s in ("byte", "short", "integer") and d == "double":
        return True
    if s == "date" and isinstance(dst, T.TimestampNTZType):
        return True
    if isinstance(dst, T.DecimalType):
        p, sc = dst.precision, dst.scale
        if isinstance(src, T.DecimalType):
            # integral digits must not shrink, scale must not shrink,
            # and something must actually grow
            return (
                p - sc >= src.precision - src.scale
                and sc >= src.scale
                and (p > src.precision or sc > src.scale)
            )
        if s in ("byte", "short", "integer"):
            return p - sc >= 10
        if s == "long":
            return p - sc >= 20
    return False


def needs_timestamp_ntz(dst: T.DataType) -> bool:
    return isinstance(dst, T.TimestampNTZType)


def record_change(
    field: T.StructField, new_type: T.DataType, table_version: int
) -> T.StructField:
    """Widened copy of ``field`` with the change appended to its
    ``delta.typeChanges`` metadata (spec shape: tableVersion/fromType/toType).
    ``table_version`` is the version the widening commit will create."""
    meta = dict(field.metadata or {})
    changes = list(meta.get(TYPE_CHANGES_KEY, []))
    changes.append(
        {
            "tableVersion": table_version,
            "fromType": _delta_name(field.dataType),
            "toType": _delta_name(new_type),
        }
    )
    meta[TYPE_CHANGES_KEY] = changes
    return T.StructField(field.name, new_type, field.nullable, meta)


def widen_schema(
    schema: T.StructType, column: str, new_type: T.DataType, table_version: int
) -> T.StructType:
    """Schema with ``column`` (dot path into nested structs) widened to
    ``new_type``. Raises ``ValueError`` on unknown columns and
    ``UnsupportedWideningError`` on non-widening changes."""
    parts = column.split(".")

    def _walk(struct: T.StructType, path: list[str]) -> T.StructType:
        head, rest = path[0], path[1:]
        fields = []
        found = False
        for f in struct.fields:
            if f.name != head:
                fields.append(f)
                continue
            found = True
            if not rest:
                if not is_widening(f.dataType, new_type):
                    raise UnsupportedWideningError(
                        f"cannot widen column {column!r}: "
                        f"{f.dataType.simpleString()} -> "
                        f"{new_type.simpleString()} is not an allowed type "
                        "widening (integer chain, float->double, "
                        "integer->double, date->timestamp_ntz, decimal "
                        "growth, integer->decimal)"
                    )
                fields.append(record_change(f, new_type, table_version))
            else:
                if not isinstance(f.dataType, T.StructType):
                    raise ValueError(
                        f"column path {column!r}: {head!r} is not a struct"
                    )
                fields.append(
                    T.StructField(
                        f.name,
                        _walk(f.dataType, rest),
                        f.nullable,
                        dict(f.metadata or {}),
                    )
                )
        if not found:
            raise ValueError(f"column {column!r} not found in table schema")
        return T.StructType(fields)

    return _walk(schema, parts)


def type_changes(schema: T.StructType) -> dict[str, list[dict[str, Any]]]:
    """All recorded type changes, keyed by dotted column path."""
    out: dict[str, list[dict[str, Any]]] = {}

    def _walk(struct: T.StructType, prefix: str) -> None:
        for f in struct.fields:
            path = f"{prefix}{f.name}"
            meta = f.metadata or {}
            if meta.get(TYPE_CHANGES_KEY):
                out[path] = list(meta[TYPE_CHANGES_KEY])
            if isinstance(f.dataType, T.StructType):
                _walk(f.dataType, path + ".")

    _walk(schema, "")
    return out


def latest_change_version(schema: T.StructType) -> int | None:
    """Highest tableVersion across all recorded type changes (None if the
    schema carries none). Files added before this version may have narrow
    physical types."""
    versions = [
        c["tableVersion"]
        for changes in type_changes(schema).values()
        for c in changes
        if c.get("tableVersion") is not None
    ]
    return max(versions) if versions else None


def strip_type_changes(schema: T.StructType) -> T.StructType:
    """Schema with every ``delta.typeChanges`` metadata key removed (the
    DROP FEATURE cleanup step)."""

    def _field(f: T.StructField) -> T.StructField:
        meta = {k: v for k, v in (f.metadata or {}).items() if k != TYPE_CHANGES_KEY}
        dt = f.dataType
        if isinstance(dt, T.StructType):
            dt = T.StructType([_field(x) for x in dt.fields])
        return T.StructField(f.name, dt, f.nullable, meta)

    return T.StructType([_field(f) for f in schema.fields])


class UnsupportedWideningError(ValueError):
    """The requested type change is not in the spec's widening list."""


def physical_narrow_files(table) -> list[str]:
    """Live files whose parquet footer schema is narrower than the table
    schema — the files blocking DROP FEATURE typeWidening.

    One footer read per candidate file (bounded driver metadata, the same
    cost class as vacuum's candidate listing); only files added before the
    latest recorded type change are inspected, so after an ``optimize``
    rewrite the scan list is empty.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import column_mapping as cm

    schema = table.schema()
    cutoff = latest_change_version(schema)
    if cutoff is None:
        return []
    # files store PHYSICAL names on mapped tables and may have narrow types
    # at ANY nesting level — compare the full tree against the physical
    # schema, not top-level logical names
    cmp_schema = (
        cm.physical_schema(schema)
        if cm.is_mapped(table.metadata().configuration)
        else schema
    )

    def _narrow_leaf(pa_type, dt: T.DataType) -> bool:
        got = _pa_simple(pa_type)
        return got is not None and got != dt.simpleString()

    def _tree_narrow(pa_struct_fields, spark_struct: T.StructType) -> bool:
        by_name = {f.name: f for f in spark_struct.fields}
        for paf in pa_struct_fields:
            sf = by_name.get(paf.name)
            if sf is None:
                continue
            dt, pt = sf.dataType, paf.type
            if isinstance(dt, T.StructType) and pa.types.is_struct(pt):
                if _tree_narrow(list(pt), dt):
                    return True
            elif isinstance(dt, T.ArrayType) and (
                pa.types.is_list(pt) or pa.types.is_large_list(pt)
            ):
                if isinstance(dt.elementType, T.StructType) and pa.types.is_struct(
                    pt.value_type
                ):
                    if _tree_narrow(list(pt.value_type), dt.elementType):
                        return True
                elif _narrow_leaf(pt.value_type, dt.elementType):
                    return True
            elif isinstance(dt, T.MapType) and pa.types.is_map(pt):
                if _narrow_leaf(pt.key_type, dt.keyType):
                    return True
                if isinstance(dt.valueType, T.StructType) and pa.types.is_struct(
                    pt.item_type
                ):
                    if _tree_narrow(list(pt.item_type), dt.valueType):
                        return True
                elif _narrow_leaf(pt.item_type, dt.valueType):
                    return True
            elif _narrow_leaf(pt, dt):
                return True
        return False

    # files physically written AFTER the latest type change carry the wide
    # schema — skip their footer reads (on object stores each is a round
    # trip). Ambiguous timestamps fall through to the footer check, so
    # clock skew can only cost a read, never miss a narrow file.
    try:
        cutoff_ts = table.snapshot.log.commit_timestamp_ms(cutoff)
    except Exception:  # pragma: no cover - truncated history
        cutoff_ts = None

    narrow: list[str] = []
    for add in table.add_actions():
        if (
            cutoff_ts is not None
            and add.modification_time is not None
            and add.modification_time > cutoff_ts
        ):
            continue
        uri = table.snapshot.log.data_plane.local_uri(add.path)
        try:
            file_schema = pq.read_schema(uri)
        except Exception:  # pragma: no cover - unreadable file: be conservative
            narrow.append(add.path)
            continue
        if _tree_narrow(
            [file_schema.field(n) for n in file_schema.names], cmp_schema
        ):
            narrow.append(add.path)
    return narrow


def _pa_simple(pa_type) -> str | None:
    """pyarrow type -> Spark simpleString for the widenable primitives;
    None for types outside the widening set (never blocks a drop)."""
    import pyarrow as pa

    if pa.types.is_int8(pa_type):
        return "tinyint"
    if pa.types.is_int16(pa_type):
        return "smallint"
    if pa.types.is_int32(pa_type):
        return "int"
    if pa.types.is_int64(pa_type):
        return "bigint"
    if pa.types.is_float32(pa_type):
        return "float"
    if pa.types.is_float64(pa_type):
        return "double"
    if pa.types.is_date32(pa_type):
        return "date"
    if pa.types.is_timestamp(pa_type) and pa_type.tz is None:
        return "timestamp_ntz"
    if pa.types.is_decimal(pa_type):
        return f"decimal({pa_type.precision},{pa_type.scale})"
    return None


def restamp_type_changes(meta_action, old_version: int, new_version: int) -> bool:
    """Rewrite ``typeChanges`` entries recorded at ``old_version`` to
    ``new_version`` inside a MetaDataAction's schema string; returns True
    when anything changed.

    The widening commit records its OWN version in the metadata, but the
    optimistic retry loop can move the commit to a later version — a
    ``DeltaTransaction.add_version_stamper`` hook calls this so the
    recorded boundary always names the commit that actually happened
    (readers bucket files as narrow/wide by this version)."""
    from .schema import schema_string_to_spark, spark_to_schema_string

    if old_version == new_version:
        return False
    changed = False

    def _fields(struct: T.StructType) -> T.StructType:
        nonlocal changed
        out = []
        for f in struct.fields:
            meta = dict(f.metadata or {})
            entries = meta.get(TYPE_CHANGES_KEY)
            if entries and any(
                e.get("tableVersion") == old_version for e in entries
            ):
                meta[TYPE_CHANGES_KEY] = [
                    {**e, "tableVersion": new_version}
                    if e.get("tableVersion") == old_version
                    else e
                    for e in entries
                ]
                changed = True
            dt = _walk_type(f.dataType)
            out.append(T.StructField(f.name, dt, f.nullable, meta))
        return T.StructType(out)

    def _walk_type(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return _fields(dt)
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_walk_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                _walk_type(dt.keyType),
                _walk_type(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    new_schema = _fields(schema_string_to_spark(meta_action.schema_string))
    if changed:
        meta_action.schema_string = spark_to_schema_string(new_schema)
    return changed
