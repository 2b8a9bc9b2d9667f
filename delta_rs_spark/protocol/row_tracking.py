"""Row tracking (public Delta feature ``rowTracking``): stable row ids.

Every row gets a table-unique id that survives file rewrites:

- Fresh rows: the add action carries ``baseRowId``; row id = baseRowId +
  row_index within the file. Ids are allocated from a table-level high-water
  mark stored as a ``domainMetadata`` action in the ``delta.rowTracking``
  domain (``{"rowIdHighWaterMark": N}``).
- ``defaultRowCommitVersion`` on the add records the commit that created the
  rows; both fields are PRESERVED when a file is re-added (deletion-vector
  swap), so ids never change while data stays in place.
- Rewrites (OPTIMIZE, copy-on-write DELETE/UPDATE) keep ids by writing the
  source row ids into MATERIALIZED columns whose (uuid-suffixed) physical
  names live in the table configuration; readers take
  ``coalesce(materialized, baseRowId + row_index)``.

Allocation is transactional: the commit retry loop re-stamps baseRowIds from
the refreshed snapshot's high-water mark whenever the target version moves,
so two concurrent writers never hand out overlapping ids (the loser of the
version race re-reads the winner's mark before retrying).

The reference (delta-rs v0) predates the feature; implemented from the
public Delta protocol spec. DELETE/UPDATE/MERGE (copy-on-write and
merge-on-read), replaceWhere and OPTIMIZE all preserve ids through
``carried_id_columns``; inserted rows get fresh ids.
"""

from __future__ import annotations

import json
import uuid
from typing import Optional

ENABLE_KEY = "delta.enableRowTracking"
DOMAIN = "delta.rowTracking"
HWM_KEY = "rowIdHighWaterMark"
MAT_ROW_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
MAT_RCV_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"
FEATURES = ["rowTracking", "domainMetadata"]

# reader-facing column names (Delta exposes these under _metadata; this
# engine surfaces them as top-level columns of to_df(with_row_ids=True))
ROW_ID_COL = "_row_id"
ROW_CV_COL = "_row_commit_version"


class RowTrackingError(Exception):
    pass


def enabled(configuration: Optional[dict]) -> bool:
    return str((configuration or {}).get(ENABLE_KEY, "")).lower() == "true"


def fresh_materialized_names() -> dict[str, str]:
    suffix = uuid.uuid4().hex[:12]
    return {
        MAT_ROW_ID_KEY: f"_row_id_mat_{suffix}",
        MAT_RCV_KEY: f"_row_cv_mat_{suffix}",
    }


def materialized_names(configuration: Optional[dict]) -> tuple[Optional[str], Optional[str]]:
    cfg = configuration or {}
    return cfg.get(MAT_ROW_ID_KEY), cfg.get(MAT_RCV_KEY)


def carried_id_columns(configuration: Optional[dict], prefix: str = "") -> list:
    """Columns that write each row's ``_row_id`` / ``_row_commit_version``
    into the materialized columns, so a rewritten row keeps its identity
    (select them next to the data columns of a frame read with
    ``with_row_ids=True``; ``prefix`` qualifies them, e.g. ``"t."``).
    Empty when row tracking is off."""
    if not enabled(configuration):
        return []
    from pyspark.sql import functions as F

    mat_id, mat_cv = materialized_names(configuration)
    return [
        F.col(prefix + ROW_ID_COL).alias(mat_id),
        F.col(prefix + ROW_CV_COL).alias(mat_cv),
    ]


def high_water_mark(state) -> int:
    """Highest allocated row id (-1 when none allocated yet).

    A PRESENT-but-unparseable domain value must raise, not read as -1:
    treating corrupt state as a fresh table would re-allocate ids from 0
    and hand out duplicates — the exact invariant this domain protects."""
    raw = state.domain_metadata.get(DOMAIN)
    if not raw:
        return -1
    try:
        return int(json.loads(raw).get(HWM_KEY, -1))
    except (ValueError, TypeError) as e:
        raise RowTrackingError(
            f"corrupt {DOMAIN} domain metadata {raw!r}: cannot determine "
            "the row-id high-water mark (allocating fresh ids could "
            "duplicate existing ones)"
        ) from e


def domain_action(hwm: int):
    from .actions import DomainMetadataAction

    return DomainMetadataAction(
        domain=DOMAIN, configuration=json.dumps({HWM_KEY: hwm})
    )


def stamp_adds(adds_to_stamp: list, start: int, version: Optional[int]) -> int:
    """Assign baseRowId (+ defaultRowCommitVersion) to the given adds;
    returns the new high-water mark. Callers pass ONLY adds lacking a
    baseRowId (collected once, so a commit-retry re-stamp overwrites the
    stale ids from the lost attempt); re-adds in a DV swap keep their
    original fields — that is what keeps ids stable."""
    hwm = start
    for a in adds_to_stamp:
        n = a.num_records
        if n is None:
            raise RowTrackingError(
                f"row tracking needs per-file numRecords stats; {a.path} has none"
            )
        a.base_row_id = hwm + 1
        if version is not None:
            a.default_row_commit_version = version
        hwm += n
    return hwm
