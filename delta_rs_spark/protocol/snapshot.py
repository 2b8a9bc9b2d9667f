"""Table snapshot: log replay → active file list → Spark DataFrame.

Load strategy mirrors the reference (``rust/src/delta.rs:589-709``): start
from the newest checkpoint ≤ target version (``_last_checkpoint`` hint, else
log-dir scan), fold the JSON commit tail. All of this is driver-side and
small; the resulting file list feeds one Spark parquet scan — the scan itself
(vectorized reader, pushdown, codegen) is entirely Catalyst's.
"""

from __future__ import annotations

import json
from functools import reduce
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .actions import (
    Action,
    AddAction,
    DomainMetadataAction,
    MetaDataAction,
    ProtocolAction,
    RemoveAction,
    TxnAction,
)
from . import column_mapping as cm
from .log import CheckPoint, DeltaLog
from .partitions import (
    FilterTuple,
    compile_filters,
    file_matches,
    parse_partition_path,
)
from .schema import partition_value_to_typed, schema_string_to_spark
from .state import TableState
from .stats import SkipTuple, prune_files


class DeltaTableError(Exception):
    pass


class NotATableError(DeltaTableError):
    pass


class UnsupportedFeatureError(DeltaTableError):
    """The table requires a reader feature this engine does not implement.
    Failing fast here is the protocol's contract — reading on would return
    wrong data (e.g. ignoring an unknown row-filtering feature)."""


# reader features this engine fully implements; tables advertising anything
# else are refused (the whole point of the feature lists)
SUPPORTED_READER_FEATURES = frozenset(
    {
        "columnMapping",
        "deletionVectors",
        "timestampNtz",
        "variantType",
        "v2Checkpoint",
        "typeWidening",
        "vacuumProtocolCheck",
        # vendor token written by pre-round-3 builds of this engine for the
        # legacy parquet-dir DV descriptors (still decoded)
        "deltaRsSpark.deletionVectors",
    }
)


class Snapshot:
    """Immutable view of a table at one version."""

    def __init__(self, log: DeltaLog, version: int, state: TableState):
        self.log = log
        self.version = version
        self.state = state

    # ---- construction --------------------------------------------------
    @classmethod
    def load(cls, log: DeltaLog, version: Optional[int] = None) -> "Snapshot":
        state = TableState()
        start_version = 0

        cp: Optional[CheckPoint] = None
        last_cp = log.read_last_checkpoint()
        if version is None:
            cp = last_cp
        else:
            if last_cp is not None and last_cp.version <= version:
                cp = last_cp
            else:
                cp = log.find_latest_checkpoint_for_version(version)
        if cp is not None:
            state.apply_all(read_checkpoint_actions(log, cp))
            start_version = cp.version + 1

        v = start_version
        loaded = cp.version if cp is not None else -1
        # log-compaction files covering [s, e] fold in place of the commits
        # they reconcile — on object stores that's 1 GET instead of e-s+1.
        # Listed lazily (first tail iteration) so compaction-free tables pay
        # nothing extra beyond the list call they already make elsewhere.
        comps: Optional[dict[int, int]] = None
        while version is None or v <= version:
            if comps is None:
                comps = {}
                for s, e in log.list_compactions():
                    if version is not None and e > version:
                        continue  # overshoots the target: unusable here
                    comps[s] = max(comps.get(s, -1), e)
            end = comps.get(v)
            if end is not None and end > v:
                actions = log.try_read_compaction(v, end)
                if actions is not None:
                    state.apply_all(actions)
                    loaded = end
                    v = end + 1
                    continue
            actions = log.try_read_commit(v)
            if actions is None:
                break
            state.apply_all(actions)
            loaded = v
            v += 1

        if loaded < 0:
            raise NotATableError(f"{log.table_root} is not a Delta table (empty log)")
        if version is not None and loaded != version:
            raise DeltaTableError(
                f"version {version} does not exist in {log.table_root} (latest {loaded})"
            )
        unknown = set(state.reader_features or []) - SUPPORTED_READER_FEATURES
        if unknown:
            raise UnsupportedFeatureError(
                f"table {log.table_root} requires unsupported reader "
                f"feature(s) {sorted(unknown)}"
            )
        return cls(log, loaded, state)

    def apply_new_versions(self) -> "Snapshot":
        """Incremental refresh: fold commits newer than this snapshot
        (reference ``update_incremental``, ``rust/src/delta.rs:612-638``).

        The fold runs on a COPY of the state: this snapshot stays the
        immutable view its docstring promises, so a caller that captured it
        (time travel, CDF planning) keeps reading version-consistent data
        while the table object moves forward. The copy is shallow-per-field
        (dict/list containers re-created, actions shared — they are never
        mutated), O(#files) like the fold itself."""
        v = self.version + 1
        if self.log.try_read_commit(v) is None:
            return self  # nothing new — skip the state copy entirely
        import dataclasses as _dc

        state = _dc.replace(
            self.state,
            files=dict(self.state.files),
            tombstones=dict(self.state.tombstones),
            commit_infos=list(self.state.commit_infos),
            app_transaction_version=dict(self.state.app_transaction_version),
            reader_features=(
                list(self.state.reader_features)
                if self.state.reader_features is not None
                else None
            ),
            writer_features=(
                list(self.state.writer_features)
                if self.state.writer_features is not None
                else None
            ),
            domain_metadata=dict(self.state.domain_metadata),
        )
        loaded = self.version
        while True:
            actions = self.log.try_read_commit(v)
            if actions is None:
                break
            state.apply_all(actions)
            loaded = v
            v += 1
        # same reader gate as a cold load: a concurrent protocol upgrade to
        # an unimplemented reader feature must stop this reader, not let it
        # silently ignore the feature's semantics
        unknown = set(state.reader_features or []) - SUPPORTED_READER_FEATURES
        if unknown:
            raise UnsupportedFeatureError(
                f"table {self.log.table_root} now requires unsupported "
                f"reader feature(s) {sorted(unknown)}"
            )
        return Snapshot(self.log, loaded, state)

    # ---- accessors -------------------------------------------------------
    @property
    def metadata(self) -> MetaDataAction:
        if self.state.metadata is None:
            raise DeltaTableError("snapshot has no metaData action")
        return self.state.metadata

    def schema(self) -> T.StructType:
        return schema_string_to_spark(self.metadata.schema_string)

    def data_schema(self) -> T.StructType:
        """Schema of the parquet data files = table schema minus partition columns."""
        pcols = set(self.metadata.partition_columns)
        return T.StructType([f for f in self.schema().fields if f.name not in pcols])

    def mapping_mode(self) -> str:
        """Column-mapping mode (none | name | id) from the table config."""
        return cm.mapping_mode(self.metadata.configuration)

    def _phys_tuples(self, tuples):
        """Rewrite (col, op, value) tuples to physical column names — the
        log's partitionValues and stats are keyed physically when column
        mapping is active."""
        if not tuples or self.mapping_mode() == "none":
            return tuples
        mapping = cm.top_level_physical(self.schema())
        return [(mapping.get(t[0], t[0]), *t[1:]) for t in tuples]

    def files(
        self,
        partition_filters: Sequence[FilterTuple] | None = None,
        skip_predicates: Sequence[SkipTuple] | None = None,
    ) -> list[AddAction]:
        adds = list(self.state.files.values())
        if partition_filters:
            compiled = compile_filters(self._phys_tuples(partition_filters))
            adds = [a for a in adds if file_matches(a, compiled)]
        if skip_predicates:
            adds = prune_files(adds, self._phys_tuples(skip_predicates))
        return adds

    def file_paths(self, **kw) -> list[str]:
        return [a.path for a in self.files(**kw)]

    def file_uris(self, **kw) -> list[str]:
        return [self._absolute(a.path) for a in self.files(**kw)]

    def _absolute(self, path: str) -> str:
        if "://" in path or path.startswith("/"):
            return path
        return self.log.backend.join(self.log.table_root, path)

    def _readable(self, path: str) -> str:
        """URI Spark can actually scan for a log-relative data file — the
        table URI itself on the native data plane, a backend-mirrored local
        copy otherwise (see ``protocol/dataio.py``)."""
        return self.log.data_plane.readable_uri(path)

    def _local(self, path: str) -> str:
        """Path DRIVER-SIDE pyarrow can open (to_pyarrow_* materialization,
        footer probes) — fetched through the backend on non-local planes."""
        return self.log.data_plane.local_uri(path)

    def stats(self) -> list[Optional[dict[str, Any]]]:
        if self.mapping_mode() != "none":
            schema = self.schema()
            return [
                cm.stats_to_logical(a.get_stats(), schema)
                for a in self.state.files.values()
            ]
        return [a.get_stats() for a in self.state.files.values()]

    # ---- DataFrame construction -------------------------------------------

    # lineage columns (file identity + row position) used for deletion-vector
    # filtering and by DML to find files containing matching rows; prefixed to
    # never collide with user columns
    FILE_LINEAGE_COL = "_drs_file"
    POS_LINEAGE_COL = "_drs_pos"

    # a DV positions side small enough to broadcast, measured in BYTES from
    # the descriptors' sizeInBytes (parquet-compressed positions expand a few
    # × in memory — keep the cap near Spark's ~10MB broadcast heuristic);
    # above this the anti join shuffles — still proportional to positions,
    # never to table size
    DV_BROADCAST_MAX_BYTES = 16 * 1024 * 1024

    def to_df(
        self,
        spark: SparkSession,
        columns: Sequence[str] | None = None,
        partition_filters: Sequence[FilterTuple] | None = None,
        skip_predicates: Sequence[SkipTuple] | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot → DataFrame.

        File-level pruning (partition filters + stats skipping) happens here,
        *before* plan construction — Spark never lists or opens pruned files,
        and stats the listed ones on the driver (``session.get_spark``).
        The selected files become one parquet scan; partition columns come
        from the Hive directories once each file's directory is checked
        against its log partitionValues, with a per-partition union only for
        files outside that layout (``_read_partitioned``). Row-level
        residual filtering is left to Catalyst.
        """
        adds = self.files(partition_filters=partition_filters, skip_predicates=skip_predicates)
        return self.df_for_adds(spark, adds, columns=columns, with_row_ids=with_row_ids)

    def df_for_adds(
        self,
        spark: SparkSession,
        adds: list[AddAction],
        columns: Sequence[str] | None = None,
        with_lineage: bool = False,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """DataFrame over an explicit subset of this snapshot's files.

        Used by to_df (after pruning) and by DML, which reads only the files
        it must rewrite. Plain files are one scan (``_scan``); files
        carrying a deletion vector are a second scan, anti-joined against
        their deleted positions (``_metadata.row_index``, evaluated inside
        the scan — no Python in the hot path). ``with_lineage=True``
        appends ``_drs_file`` (the add's log path) and ``_drs_pos`` (row
        index within the file) — the row identity DML and merge-on-read
        DELETE key on.
        ``with_row_ids=True`` (row-tracked tables) appends ``_row_id`` /
        ``_row_commit_version``: coalesce(materialized column, add's
        baseRowId + row_index / defaultRowCommitVersion).
        """
        from . import row_tracking as rt

        table_schema = self.schema()
        need_lineage = with_lineage or with_row_ids
        mat_id = mat_cv = None
        if with_row_ids:
            mat_id, mat_cv = rt.materialized_names(self.metadata.configuration)

        if not adds:
            df = spark.createDataFrame([], table_schema)
            if with_lineage:
                df = df.withColumn(self.FILE_LINEAGE_COL, F.lit(None).cast("string"))
                df = df.withColumn(self.POS_LINEAGE_COL, F.lit(None).cast("long"))
            if with_row_ids:
                df = df.withColumn(rt.ROW_ID_COL, F.lit(None).cast("long"))
                df = df.withColumn(rt.ROW_CV_COL, F.lit(None).cast("long"))
            return df.select(*(columns or df.columns))

        dv_adds = [a for a in adds if a.deletion_vector]
        plain = [a for a in adds if not a.deletion_vector]

        mat_cols = [c for c in (mat_id, mat_cv) if c]
        parts: list[DataFrame] = []
        if plain:
            parts.append(
                self._scan(spark, plain, include_lineage=need_lineage, mat_cols=mat_cols)
            )
        if dv_adds:
            df = self._scan(spark, dv_adds, include_lineage=True, mat_cols=mat_cols)
            df = self._anti_join_deleted_positions(spark, df, dv_adds)
            if not need_lineage:
                df = df.drop(self.FILE_LINEAGE_COL, self.POS_LINEAGE_COL)
            parts.append(df)

        df = reduce(DataFrame.unionByName, parts)
        if with_row_ids:
            df = self._attach_row_ids(spark, df, adds, mat_id, mat_cv)

        out_cols = list(table_schema.names)
        if with_lineage:
            out_cols += [self.FILE_LINEAGE_COL, self.POS_LINEAGE_COL]
        if with_row_ids:
            out_cols += [rt.ROW_ID_COL, rt.ROW_CV_COL]
        df = df.select(*out_cols)
        if columns:
            df = df.select(*columns)
        return df

    # above this many files the per-file (baseRowId, commitVersion) lookup
    # switches from a literal map to a broadcast join — a 100k-entry literal
    # map would bloat the plan and stall analysis
    ROW_ID_MAP_MAX_FILES = 1000

    def _attach_row_ids(
        self, spark: SparkSession, df: DataFrame, adds: list[AddAction],
        mat_id: str | None, mat_cv: str | None,
    ) -> DataFrame:
        """Append ``_row_id`` / ``_row_commit_version``: the materialized
        column when the file carries one (rewritten files), else the add's
        baseRowId + row_index / defaultRowCommitVersion (fresh files)."""
        from . import row_tracking as rt

        FILE, POS = self.FILE_LINEAGE_COL, self.POS_LINEAGE_COL
        # keyed by what the lineage column evaluates to — equals a.path for
        # log-relative adds but differs for absolute (shallow-clone) adds
        base_items = [
            (self._lineage_key(a), a.base_row_id)
            for a in adds
            if a.base_row_id is not None
        ]
        cv_items = [
            (self._lineage_key(a), a.default_row_commit_version)
            for a in adds
            if a.default_row_commit_version is not None
        ]
        if len(adds) <= self.ROW_ID_MAP_MAX_FILES:
            def map_col(items):
                if not items:
                    return F.lit(None).cast("long")
                m = F.create_map(
                    *[x for p, v in items for x in (F.lit(p), F.lit(v))]
                )
                return F.element_at(m, F.col(FILE))

            base, cv = map_col(base_items), map_col(cv_items)
        else:
            lookup = spark.createDataFrame(
                [
                    (
                        self._lineage_key(a),
                        a.base_row_id,
                        a.default_row_commit_version,
                    )
                    for a in adds
                ],
                "_rt_path string, _rt_base long, _rt_cv long",
            )
            df = df.join(
                F.broadcast(lookup), df[FILE] == lookup["_rt_path"], "left"
            ).drop("_rt_path")
            base, cv = F.col("_rt_base"), F.col("_rt_cv")

        mat_id_col = F.col(mat_id) if mat_id else F.lit(None).cast("long")
        mat_cv_col = F.col(mat_cv) if mat_cv else F.lit(None).cast("long")
        df = df.withColumn(
            rt.ROW_ID_COL, F.coalesce(mat_id_col, base + F.col(POS))
        ).withColumn(rt.ROW_CV_COL, F.coalesce(mat_cv_col, cv))
        return df.drop(*(c for c in (mat_id, mat_cv, "_rt_base", "_rt_cv") if c))

    def _lineage_exprs(self) -> list:
        """Relative file path + row index from the scan's ``_metadata``.

        ``_metadata.file_path`` is a URI and percent-encodes special
        characters (a space in a partition value → ``%20``) while
        ``add.path`` holds the raw path — so the URI is percent-DECODED
        first, then the substring after the last ``<table_root>/`` yields
        the log-relative path that matches ``add.path`` exactly. The decode
        is pure codegen: pre-escaping literal ``+`` to ``%2B`` makes
        ``url_decode`` (form-decoding, ``+``→space) a strict
        percent-decoder.
        """
        delim = self.log.data_plane.scan_root.rstrip("/") + "/"
        decoded = F.url_decode(
            F.regexp_replace(F.col("_metadata.file_path"), r"\+", "%2B")
        )
        return [
            F.substring_index(decoded, delim, -1).alias(self.FILE_LINEAGE_COL),
            F.col("_metadata.row_index").alias(self.POS_LINEAGE_COL),
        ]

    def _lineage_key(self, add: AddAction) -> str:
        """The value ``_lineage_exprs``'s file column evaluates to for this
        add — equals ``add.path`` for ordinary log-relative files, but
        differs for absolute-path (shallow-clone) adds: the scan sees the
        source's URI (native plane) or the mirror's localized copy
        (mirrored plane), neither of which is the log path. Join keys that
        must line up with the scanned lineage (the DV anti join) use this."""
        uri = self._readable(add.path)
        root = self.log.data_plane.scan_root.rstrip("/") + "/"
        if uri.startswith(root):
            return uri[len(root):]
        if "://" not in uri:
            # local absolute path outside scan_root: Spark's
            # _metadata.file_path reports it as file:<path> (single slash)
            return "file:" + uri
        return uri

    def _scan(
        self,
        spark: SparkSession,
        adds: list[AddAction],
        include_lineage: bool,
        mat_cols: Sequence[str] = (),
    ) -> DataFrame:
        if self.metadata.partition_columns:
            return self._read_partitioned(spark, adds, include_lineage, mat_cols)
        uris = [self._readable(a.path) for a in adds]
        return self._parquet_scan(spark, uris, self.schema(), include_lineage, mat_cols)

    def _parquet_scan(
        self,
        spark: SparkSession,
        uris: list[str],
        schema: T.StructType,
        include_lineage: bool,
        mat_cols: Sequence[str],
        base_path: bool = False,
    ) -> DataFrame:
        """The scan builder every read shares: one ``spark.read.parquet``
        over exactly these readable URIs with an explicit schema (no inference
        job), logical columns + ``mat_cols`` (+ lineage) out. With column
        mapping the files carry PHYSICAL names: scan physically, rename to
        logical via positional struct casts (pure codegen); materialized
        row-id columns are physical by definition. ``base_path`` makes
        Spark derive the partition columns from the Hive directories."""
        mapped = self.mapping_mode() != "none"
        scan_schema = cm.physical_schema(schema) if mapped else schema
        # row-tracking materialized columns: files written before a rewrite
        # lack them and read NULL — exactly what the row-id coalesce needs
        extra = [c for c in mat_cols if c not in scan_schema.names]
        reader = spark.read.schema(
            T.StructType(scan_schema.fields + [T.StructField(c, T.LongType()) for c in extra])
        )
        if base_path:
            reader = reader.option("basePath", self.log.data_plane.scan_root)
        df = reader.parquet(*uris)
        cols = cm.to_logical_exprs(schema) if mapped else list(schema.names)
        # lineage reads _metadata.*, so it must be selected on the scan itself
        lineage = self._lineage_exprs() if include_lineage else []
        return df.select(*cols, *mat_cols, *lineage)

    def _anti_join_deleted_positions(
        self, spark: SparkSession, df: DataFrame, dv_adds: list[AddAction]
    ) -> DataFrame:
        """Drop rows whose (file, row_index) appears in a deletion vector.

        The positions side is decoded from the adds' RoaringBitmap DVs
        (spec format — inline or .bin; the pre-round-3 parquet-dir format
        decodes through the same seam) into ONE Arrow-backed literal frame:
        the identical per-file bitmap materialization every Delta reader
        performs, bounded by the descriptors' cardinality. When the total
        serialized size (known with no job) is small it broadcasts, so the
        common case (point deletes on a huge table) adds zero shuffle."""
        from .dv import positions_df

        pos = positions_df(spark, self.log, dv_adds, key_fn=self._lineage_key)
        dv_bytes = sum(
            int(a.deletion_vector.get("sizeInBytes", 0)) for a in dv_adds
        )
        if dv_bytes <= self.DV_BROADCAST_MAX_BYTES:
            pos = F.broadcast(pos)
        cond = (F.col(self.FILE_LINEAGE_COL) == F.col("_dv_path")) & (
            F.col(self.POS_LINEAGE_COL) == F.col("_dv_pos")
        )
        return df.join(pos, cond, "left_anti")

    def _read_partitioned(
        self,
        spark: SparkSession,
        adds: list[AddAction],
        include_lineage: bool = False,
        mat_cols: Sequence[str] = (),
    ) -> DataFrame:
        """Partitioned read: ONE parquet scan with ``basePath`` = the scan
        root for every file in the Hive layout, so Spark derives the
        partition columns (typed by our schema) and later filters on them
        prune as ``PartitionFilters``.

        A file is in the Hive layout when its readable URI lies under the
        scan root and its directory there is exactly the partition columns
        in table order, each ``key=value`` parsing back to the log's
        partitionValues (physical names under column mapping, NULL as
        ``__HIVE_DEFAULT_PARTITION__``) — so the derived values are the
        log's. The rest (foreign non-Hive layouts, a shallow clone's
        absolute source paths, a non-NULL empty string, which Spark
        rejects as ``k=``) fall back to one scan branch per distinct
        partition tuple with typed ``lit()`` columns from partitionValues,
        joined by ``unionByName``: exact for any layout, but each branch
        costs driver planning time.
        """
        schema = self.schema()
        pcols = self.metadata.partition_columns
        ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}
        # with column mapping, partitionValues keys AND the Hive path dirs
        # use physical names; the emitted DataFrame stays logical
        mapped = self.mapping_mode() != "none"
        phys = cm.top_level_physical(schema) if mapped else {c: c for c in schema.names}
        keys = [phys[c] for c in pcols]
        root = self.log.data_plane.scan_root.rstrip("/") + "/"

        hive: list[str] = []
        groups: dict[tuple, list[str]] = {}
        for a in adds:
            uri = self._readable(a.path)
            rel_dir = uri[len(root):].rpartition("/")[0]
            parsed = parse_partition_path(rel_dir)
            if (
                uri.startswith(root)
                and list(parsed) == keys
                and len(rel_dir.split("/")) == len(keys)
                and parsed == a.partition_values
                and "" not in parsed.values()
            ):
                hive.append(uri)
            else:
                key = tuple(a.partition_values.get(k) for k in keys)
                groups.setdefault(key, []).append(uri)

        parts = []
        if hive:
            parts.append(
                self._parquet_scan(
                    spark, hive, schema, include_lineage, mat_cols, base_path=True
                )
            )
        lineage_names = (
            [self.FILE_LINEAGE_COL, self.POS_LINEAGE_COL] if include_lineage else []
        )
        data_schema = self.data_schema()
        for key, group in groups.items():
            branch = self._parquet_scan(
                spark, group, data_schema, include_lineage, mat_cols
            )
            for cname, sval in zip(pcols, key):
                typed = partition_value_to_typed(sval, ptypes[cname])
                branch = branch.withColumn(cname, F.lit(typed).cast(ptypes[cname]))
            parts.append(branch.select(*schema.names, *mat_cols, *lineage_names))
        return reduce(DataFrame.unionByName, parts)

    # ---- misc ------------------------------------------------------------
    def min_reader_version(self) -> int:
        return self.state.min_reader_version

    def min_writer_version(self) -> int:
        return self.state.min_writer_version

    def app_transaction_version(self, app_id: str) -> Optional[int]:
        return self.state.app_transaction_version.get(app_id)


# ---- checkpoint parquet → actions (driver-side pyarrow) -------------------

def read_checkpoint_actions(log: DeltaLog, cp: CheckPoint) -> list[Action]:
    """Decode checkpoint parquet rows into actions.

    Row layout per the Delta protocol (one struct column per action type;
    reference reader ``rust/src/action.rs:726-775``). Reads with pyarrow on
    the driver: checkpoints are a few MB of metadata, not data-plane I/O.
    The bulk columns (add/remove — hundreds of thousands of rows on a big
    table) decode COLUMN-wise (one ``to_pylist`` per struct field) instead
    of row-wise nested dicts, which is what keeps a 400k-file snapshot
    reload in low single-digit seconds; the singleton action types
    (metaData/protocol/txn) stay on the simple row path.
    """
    import io
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def _fetch_many(paths: list[str]) -> list[bytes]:
        """GET several checkpoint objects; parallel on >1 — on object
        stores each part/sidecar is a network round trip and the layout
        exists precisely so they can be read independently."""
        if len(paths) <= 1:
            return [log.backend.get_obj(p) for p in paths]
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            return list(ex.map(log.backend.get_obj, paths))

    actions: list[Action] = []
    part_blobs = _fetch_many(log.checkpoint_paths(cp))
    sidecar_names: list[str] = []
    for blob in part_blobs:
        table = pq.read_table(io.BytesIO(blob))
        actions.extend(_decode_checkpoint_table(table))
        # V2 manifests: file actions live in _sidecars/ parquet files named
        # by `sidecar` rows — fetched below and decoded with the same
        # columnar path. Sidecars hold ONLY add/remove.
        if "sidecar" in table.column_names:
            for sc in table.column("sidecar").to_pylist():
                if sc and sc.get("path"):
                    sidecar_names.append(sc["path"])
    for blob in _fetch_many([log.sidecar_path(n) for n in sidecar_names]):
        actions.extend(_decode_checkpoint_table(pq.read_table(io.BytesIO(blob))))
    return actions


def _decode_checkpoint_table(table) -> list[Action]:
    """One checkpoint/sidecar parquet → actions (columnar add/remove decode;
    `checkpointMetadata`/`sidecar` columns are handled by the caller)."""
    actions: list[Action] = []
    # singleton action types: row-wise over their (few) non-null rows
    for name, builder in (
        ("metaData", lambda d: MetaDataAction.from_json_dict(_strip_none(_fix_meta(d)))),
        ("protocol", ProtocolAction.from_json_dict),
        ("txn", TxnAction.from_json_dict),
        ("domainMetadata", DomainMetadataAction.from_json_dict),
    ):
        if name not in table.column_names:
            continue
        key = {
            "metaData": "id",
            "protocol": "minReaderVersion",
            "txn": "appId",
            "domainMetadata": "domain",
        }[name]
        for d in table.column(name).to_pylist():
            if d and d.get(key) is not None:
                actions.append(builder(d))

    for name, cls in (("add", AddAction), ("remove", RemoveAction)):
        if name not in table.column_names:
            continue
        for chunk in table.column(name).chunks:
            fields = {f.name: chunk.field(i).to_pylist() for i, f in enumerate(chunk.type)}
            paths = fields.get("path") or []
            for i, p in enumerate(paths):
                if p is None:
                    continue
                d = {
                    k: v[i]
                    for k, v in fields.items()
                    if v[i] is not None
                    and k not in ("stats_parsed", "partitionValues_parsed")
                }
                if "stats" not in d and fields.get("stats_parsed") is not None:
                    sp = fields["stats_parsed"][i]
                    if sp is not None:
                        d["stats"] = json.dumps(sp, default=str)
                pv = d.get("partitionValues")
                if isinstance(pv, list):  # pyarrow map type → list of (k, v)
                    d["partitionValues"] = dict(pv)
                # pyarrow unifies mixed DV descriptors (inline vs filed
                # vs legacy) into one superset struct with None-filled
                # gaps — strip them so absent-key semantics survive the
                # checkpoint (offset=None would break decode)
                if isinstance(d.get("deletionVector"), dict):
                    d["deletionVector"] = _strip_none(d["deletionVector"])
                actions.append(cls.from_json_dict(d))
    return actions


def _fix_meta(d: dict) -> dict:
    if d.get("format") and not isinstance(d["format"], dict):
        d = dict(d)
        d["format"] = dict(d["format"])
    return d


def _strip_none(d: dict) -> dict:
    return {k: v for k, v in d.items() if v is not None}
