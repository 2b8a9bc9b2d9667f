"""Partition filters: the DNF-tuple API for file-level pruning.

Contract matches the reference (``rust/src/partitions.rs:9-98`` and the
Python surface ``python/deltalake/table.py:95-124``): a filter is
``(key, op, value)`` with op ∈ {=, !=, in, not in}; a list of filters is a
conjunction; matching compares the file's *string* partitionValues (the
reference compares strings only — we keep that semantic for parity and layer
typed comparison in stats-based skipping instead).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence, Union
from urllib.parse import unquote

from .actions import AddAction

FilterTuple = tuple[str, str, Union[str, Sequence[str]]]

_VALID_OPS = {"=", "!=", "in", "not in"}


class InvalidPartitionFilterError(ValueError):
    pass


@dataclass(frozen=True)
class PartitionFilter:
    key: str
    op: str
    value: Union[str, tuple[str, ...]]

    @classmethod
    def from_tuple(cls, t: FilterTuple) -> "PartitionFilter":
        if not isinstance(t, (tuple, list)) or len(t) != 3:
            raise InvalidPartitionFilterError(f"filter must be a (key, op, value) tuple: {t!r}")
        key, op, value = t
        if not key or op not in _VALID_OPS:
            raise InvalidPartitionFilterError(
                f"invalid partition filter {t!r}: op must be one of {sorted(_VALID_OPS)}"
            )
        if op in ("in", "not in"):
            if isinstance(value, str) or not isinstance(value, Sequence):
                raise InvalidPartitionFilterError(
                    f"filter {t!r}: '{op}' requires a sequence of values"
                )
            if not all(isinstance(v, str) for v in value):
                # reference contract (python/src/lib.rs:103-126): partition
                # values are strings — no silent coercion of ints etc.
                raise InvalidPartitionFilterError(
                    "Only the type String is currently allowed inside the partition filters."
                )
            value = tuple(value)
        else:
            if not isinstance(value, str):
                raise InvalidPartitionFilterError(
                    "Only the type String is currently allowed inside the partition filters."
                )
        return cls(key=key, op=op, value=value)

    def matches(self, partition_values: dict[str, str | None]) -> bool:
        actual = partition_values.get(self.key)
        if actual is None:
            return False
        if self.op == "=":
            return actual == self.value
        if self.op == "!=":
            return actual != self.value
        if self.op == "in":
            return actual in self.value
        return actual not in self.value  # "not in"


def compile_filters(filters: Sequence[FilterTuple] | None) -> list[PartitionFilter]:
    return [PartitionFilter.from_tuple(t) for t in (filters or [])]


def file_matches(add: AddAction, filters: Sequence[PartitionFilter]) -> bool:
    """AND of all filters over the file's partitionValues map.

    Uses the log's partitionValues map, not path parsing — same result as the
    reference's ``get_files_by_partitions`` (``rust/src/delta.rs:733-766``)
    but robust to non-Hive file layouts.
    """
    return all(f.matches(add.partition_values) for f in filters)


def parse_partition_path(part_dir: str) -> dict[str, str | None]:
    """``year=2020/month=2`` → {"year": "2020", "month": "2"} (URL-decoded;
    ``__HIVE_DEFAULT_PARTITION__`` → None). Segments without ``=`` are
    skipped."""
    values: dict[str, str | None] = {}
    for seg in part_dir.split("/") if part_dir else ():
        if "=" not in seg:
            continue
        k, v = seg.split("=", 1)
        values[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    return values
