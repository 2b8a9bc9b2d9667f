"""Snapshot reads: one parquet scan over the log's file list.

``Snapshot.to_df`` hands Spark a single scan with ``basePath`` = the table
root for every file whose directory is the Hive encoding of its log
partitionValues; files outside that layout (a shallow clone's absolute
source paths, a foreign writer's non-Hive paths) fall back to a
per-partition union. The driver-only
``to_pyarrow_table()`` attaches partition values from the log, never from
directory names, so it is the reference both paths are checked against.
"""

import datetime as dt
import decimal
import re

from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake


def _scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Scan parquet")


def _sorted_rows(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _assert_matches_log_reference(df, table):
    """``df``'s rows equal ``table.to_pyarrow_table()``'s, column by column
    (Spark's Arrow timestamps carry the session zone, so cast to the
    reference's types first)."""
    ref = table.to_pyarrow_table()
    got = df.toArrow().select(ref.schema.names).cast(ref.schema)
    want = _sorted_rows(r.values() for r in ref.to_pylist())
    assert _sorted_rows(r.values() for r in got.to_pylist()) == want
    assert len(want) > 0


def test_partition_types_match_log_reference(spark, tmp_path):
    """Every partition type, and strings needing escapes, read back through
    the single basePath scan exactly as the log states them."""
    strs = ["a b", "x=y", "50%", "a+b", "10:30", "é", "a%20b", "", None, "plain"]
    dates = [dt.date(2020, 1, 1), dt.date(1970, 1, 1), None]
    tss = [dt.datetime(2021, 3, 4, 5, 6, 7, 123456), dt.datetime(1999, 12, 31, 23, 59, 59), None]
    ntzs = [dt.datetime(2021, 3, 4, 5, 6, 7, 1), None]
    decs = [decimal.Decimal("1234567.891"), decimal.Decimal("-0.001"), None]
    bools = [True, False, None]
    dbls = [1.0e20, -0.0, 0.5, None]
    rows = [
        (i, s, dates[i % 3], tss[i % 3], ntzs[i % 2], decs[i % 3], bools[i % 3], dbls[i % 4])
        for i, s in enumerate(strs)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, s string, d date, ts timestamp, ntz timestamp_ntz, "
        "dec decimal(10,3), b boolean, x double",
    )
    uri = str(tmp_path / "types")
    write_deltalake(spark, df, uri, partition_by=["s", "d", "ts", "ntz", "dec", "b", "x"])

    t = DeltaTable(uri)
    got = t.to_df(spark)
    assert _scans(got) == 1
    _assert_matches_log_reference(got, t)
    # pruning by the log before the plan: the escaped values still match
    one = t.to_df(spark, partition_filters=[("s", "=", "a%20b")])
    assert [r.id for r in one.collect()] == [6]


def test_column_mapped_partitioned_read(spark, tmp_path):
    """Mapped tables name their Hive directories physically; the single
    scan derives the physical partition column and renames it logical."""
    rows = [(i, f"v{i}", ["x", "y z", None][i % 3]) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, val string, part string").coalesce(1)
    uri = str(tmp_path / "mapped")
    t = write_deltalake(
        spark, df, uri, partition_by=["part"],
        configuration={"delta.columnMapping.mode": "name"},
    )
    assert all(not a.path.startswith("part=") for a in t.add_actions())
    got = t.to_df(spark)
    assert _scans(got) == 1
    assert got.columns == ["id", "val", "part"]
    assert _sorted_rows(got.collect()) == _sorted_rows(rows)
    assert sorted(r.id for r in got.where(F.col("part") == "y z").collect()) == [1, 4, 7, 10]


def test_row_tracked_partitioned_read_keeps_ids(spark, tmp_path):
    """``with_row_ids=True`` on a partitioned table: fresh ids come from the
    adds' baseRowId; after a copy-on-write UPDATE the rewritten files carry
    materialized id columns, which join the single scan's schema."""
    df = spark.range(40).select(
        "id", (F.col("id") % 4).alias("p"), F.col("id").cast("string").alias("val")
    ).repartition(2)
    uri = str(tmp_path / "rt")
    t = write_deltalake(
        spark, df, uri, partition_by=["p"],
        configuration={"delta.enableRowTracking": "true"},
    )

    def ids(table):
        got = table.to_df(spark, with_row_ids=True)
        assert _scans(got) == 1
        _assert_matches_log_reference(got.drop("_row_id", "_row_commit_version"), table)
        return {r.id: r._row_id for r in got.collect()}

    before = ids(t)
    assert sorted(before.values()) == list(range(40))
    t.update_where(spark, "p = 1", {"val": "'changed'"})
    t = DeltaTable(uri)
    assert ids(t) == before


def test_shallow_clone_of_many_partitions_reads_source_rows(spark, tmp_path):
    """A shallow clone's adds are the source's ABSOLUTE paths: they lie
    outside the clone's root, so they take the union fallback (a basePath
    scan would fail with 'Wrong basePath'). Appends to the clone are
    ordinary Hive files and join through the single scan."""
    df = spark.range(200).select(
        "id", (F.col("id") % 100).alias("bucket"), (F.col("id") * 2.0).alias("v")
    )
    src = str(tmp_path / "src100")
    write_deltalake(spark, df, src, partition_by=["bucket"])
    clone = DeltaTable(src).shallow_clone(str(tmp_path / "clone100"))

    got = DeltaTable(clone.table_uri).to_df(spark)
    assert _sorted_rows(got.collect()) == _sorted_rows(DeltaTable(src).to_df(spark).collect())
    _assert_matches_log_reference(got, DeltaTable(clone.table_uri))

    extra = spark.range(1000, 1010).select(
        "id", (F.col("id") % 100).alias("bucket"), (F.col("id") * 2.0).alias("v")
    )
    write_deltalake(spark, extra, clone.table_uri, mode="append")
    t = DeltaTable(clone.table_uri)
    got = t.to_df(spark)
    assert got.count() == 210
    _assert_matches_log_reference(got, t)


def test_files_outside_hive_layout_take_union_fallback(spark, tmp_path):
    """Files a foreign writer committed outside the Hive layout: one at the
    table root whose directory encodes nothing, one under ``p=`` with a
    non-NULL empty-string value (Spark's basePath derivation rejects an
    empty ``k=``). Both read through the union fallback, beside the single
    scan over the engine's own files, with the log's values."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from delta_rs_spark.protocol.actions import AddAction
    from delta_rs_spark.transactions import DeltaTransaction

    uri = str(tmp_path / "foreign")
    df = spark.createDataFrame([(i, "ab"[i % 2]) for i in range(6)], "id long, p string")
    write_deltalake(spark, df, uri, partition_by=["p"])

    adds = []
    for rel, value, ids in [("flat.parquet", "z", [100, 101]), ("p=/e.parquet", "", [200])]:
        os.makedirs(os.path.dirname(os.path.join(uri, rel)), exist_ok=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), os.path.join(uri, rel))
        adds.append(
            AddAction(
                path=rel, size=os.path.getsize(os.path.join(uri, rel)),
                partition_values={"p": value}, modification_time=0, data_change=True,
            )
        )
    tx = DeltaTransaction(DeltaTable(uri))
    tx.add_actions(adds)
    tx.commit(operation="WRITE")

    t = DeltaTable(uri)
    got = t.to_df(spark)
    assert _scans(got) == 3
    _assert_matches_log_reference(got, t)
    assert sorted((r.id, r.p) for r in got.where(F.col("id") >= 100).collect()) == [
        (100, "z"), (101, "z"), (200, None)
    ]


def test_to_df_plan_is_one_scan_with_driver_listing(spark, tmp_path):
    """16 partitions, ~270 files: ``to_df`` plans one parquet scan without
    starting a Spark job (file status is read on the driver), and a later
    filter on the partition column still prunes as a PartitionFilter —
    the path the SQL temp views rely on."""
    df = spark.range(2720).select("id", (F.col("id") % 16).alias("p"))
    uri = str(tmp_path / "p16")
    write_deltalake(spark, df.repartition(17), uri, partition_by=["p"])
    t = DeltaTable(uri)
    assert len(t.files()) == 272

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs_before = dag.nextJobId()
    full = t.to_df(spark)
    assert dag.nextJobId() == jobs_before
    assert _scans(full) == 1

    plan = full.where(F.col("p") == 5)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*\(p#\d+L = 5\)", plan), plan[:2000]
    assert full.where(F.col("p") == 5).count() == 170
