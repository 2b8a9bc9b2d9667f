"""Golden-table read tests, mirroring the reference's integration suite
(rust/tests/read_delta_test.rs, read_simple_table_test.rs) against the same
committed fixture tables — read-only inputs."""

import pytest

from delta_rs_spark import DeltaTable
from delta_rs_spark.protocol.log import DeltaLog
from delta_rs_spark.protocol.snapshot import DeltaTableError, NotATableError, Snapshot


def test_simple_table_latest(golden):
    t = DeltaTable(golden("simple_table"))
    assert t.version == 4
    assert t.protocol_versions() == (1, 2)
    files = t.files()
    assert len(files) == 5
    assert all(f.endswith(".snappy.parquet") for f in files)
    assert len(t.snapshot.state.tombstones) > 0


def test_simple_table_time_travel(golden):
    path = golden("simple_table")
    assert len(DeltaTable.for_version(path, 0).files()) > 0
    v2 = DeltaTable.for_version(path, 2)
    assert v2.version == 2
    assert len(v2.files()) == 6
    v3 = DeltaTable.for_version(path, 3)
    assert v3.version == 3


def test_missing_version_raises(golden):
    with pytest.raises(DeltaTableError):
        DeltaTable.for_version(golden("simple_table"), 99)


def test_not_a_table(tmp_path):
    with pytest.raises(NotATableError):
        DeltaTable(str(tmp_path))


def test_checkpoint_equivalence(golden):
    """Snapshot restored via checkpoint == snapshot from pure JSON replay."""
    t = DeltaTable(golden("simple_table_with_checkpoint"))
    assert t.version == 10
    assert len(t.files()) == 11

    # replay ignoring the checkpoint must agree
    log = DeltaLog(golden("simple_table_with_checkpoint"))
    state_files = set(t.files())
    from delta_rs_spark.protocol.state import TableState

    st = TableState()
    for v in log.list_commit_versions():
        st.apply_all(log.read_commit(v))
    assert set(st.file_paths) == state_files


def test_checkpoints_fixture(golden):
    t = DeltaTable(golden("checkpoints"))
    assert t.version == 11
    assert len(t.files()) == 11


def test_incremental_update(golden):
    log = DeltaLog(golden("simple_table"))
    snap0 = Snapshot.load(log, 0)
    snap = snap0.apply_new_versions()
    full = Snapshot.load(log)
    assert snap.version == full.version
    assert snap.file_paths() == full.file_paths()


def test_delta_020(golden):
    t = DeltaTable(golden("delta-0.2.0"))
    assert t.version == 3
    assert len(t.files()) == 3
    assert t.protocol_versions() == (1, 2)


def test_empty_table(golden):
    t = DeltaTable(golden("delta-0.8-empty"))
    assert t.files() == []
    assert t.count_rows() == 0


def test_stats_accessors(golden):
    t = DeltaTable(golden("delta-0.8.0"))
    stats = t.get_stats()
    assert all(s is not None and "numRecords" in s for s in stats)
    assert t.count_rows() == sum(s["numRecords"] for s in stats)
    assert t.column_min_max("value") == (0, 4)


def test_history(golden):
    t = DeltaTable(golden("simple_table"))
    hist = t.history()
    assert len(hist) >= 1
    assert "operation" in hist[0] or len(hist[0]) > 0


def test_covid_table_read_and_metadata_count(golden, spark):
    """Read-path stress table (1.11M rows / 8 files): the metadata-only
    count answers from log stats and must equal the actual scan."""
    t = DeltaTable(golden("COVID-19_NYT"))
    assert len(t.files()) == 8
    assert t.count_rows() == 1_111_930
    df = t.to_df(spark)
    assert df.count() == 1_111_930
    assert set(df.columns) == {"date", "county", "state", "fips", "cases", "deaths"}


def test_array_primitives_golden(golden, spark):
    """Array-typed schema conversion (10 array<primitive> columns) and values."""
    t = DeltaTable(golden("golden/data-reader-array-primitives"))
    schema = t.schema()
    array_fields = [f for f in schema.fields if f.dataType.typeName() == "array"]
    assert len(array_fields) == 10
    rows = t.to_df(spark).orderBy("as_array_int").collect()
    assert [r.as_array_int for r in rows] == [[i] for i in range(10)]
    assert [r.as_array_long for r in rows] == [[i] for i in range(10)]


def test_date_partition_golden(golden, spark):
    t = DeltaTable(golden("delta-0.8.0-date"))
    df = t.to_df(spark)
    assert df.count() > 0
    assert dict(df.dtypes)["date"] == "date"


def test_pyarrow_read_path_no_spark(golden):
    """Reference A10 parity: to_pyarrow_dataset/table/to_pandas without a
    SparkSession (python/deltalake/table.py:184-271)."""
    t = DeltaTable(golden("delta-0.8.0-partitioned"))
    pa_schema = t.pyarrow_schema()
    assert [f.name for f in pa_schema] == ["value", "year", "month", "day"]

    pdf = t.to_pandas(partitions=[("year", "=", "2021")])
    assert sorted(pdf["value"].tolist()) == ["4", "5", "6", "7"]

    only_value = t.to_pandas(columns=["value"])
    assert list(only_value.columns) == ["value"]
    assert len(only_value) == 7

    tbl = t.to_pyarrow_table(partitions=[("year", "=", "2020"), ("day", "=", "3")])
    assert tbl.num_rows == 1


def test_update_incremental_alias(golden):
    t = DeltaTable.for_version(golden("simple_table"), 2)
    assert t.version == 2
    t.update_incremental()
    assert t.version == 4
    assert len(t.files()) == 5


def test_snapshot_immutable_under_table_update(spark, tmp_path):
    """A captured snapshot must keep reporting ITS version's state after
    the table object folds newer commits (apply_new_versions used to
    mutate the shared state in place)."""
    from delta_rs_spark import DeltaTable, write_deltalake

    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(0, 10).selectExpr("id"), uri)
    t = DeltaTable(uri)
    old_snap = t.snapshot
    n_before = len(old_snap.files())
    write_deltalake(spark, spark.range(10, 30).selectExpr("id"), uri, mode="append")
    t.update()
    assert t.snapshot.version == 1
    assert old_snap.version == 0
    assert len(old_snap.files()) == n_before  # not polluted by v1's adds


def test_incremental_update_enforces_reader_gate(spark, tmp_path):
    """A protocol upgrade to an unimplemented reader feature must stop an
    incremental refresh the same way it stops a cold load."""
    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.protocol.actions import ProtocolAction
    from delta_rs_spark.protocol.snapshot import UnsupportedFeatureError
    from delta_rs_spark.transactions import DeltaTransaction

    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(0, 10).selectExpr("id"), uri)
    t = DeltaTable(uri)

    writer = DeltaTable(uri)
    txn = DeltaTransaction(writer)
    txn.add_action(
        ProtocolAction(
            3,
            7,
            reader_features=["futureRowFilteringV9"],
            writer_features=["futureRowFilteringV9"],
        )
    )
    # the committing writer itself refuses unknown WRITER features; bypass
    # its gate by writing the commit file directly (a foreign writer)
    tmp = writer.log.write_tmp_commit(txn.actions, "foreign")
    writer.log.try_commit(tmp, 1)
    with pytest.raises(UnsupportedFeatureError):
        t.update()


def test_simple_commit_two_commits_reference_parity(spark, tmp_path, golden):
    """Mirror of the reference's commit suite over its own fixture
    (rust/tests/simple_commit_test.rs::test_two_commits,
    ::test_commit_version_fails_if_version_exists): the pre-staged
    simple_commit table starts at version 0 with zero files; two
    transactions committing the reference's exact Add actions land as
    versions 1 and 2 with 2 then 4 files; re-committing at a taken version
    fails (VersionAlreadyExists parity via rename-without-replace); and —
    beyond the reference — Spark reads the committed files back."""
    import shutil

    from delta_rs_spark.protocol.actions import AddAction
    from delta_rs_spark.protocol.log import FileAlreadyExistsError
    from delta_rs_spark.transactions import DeltaTransaction

    src = golden("simple_commit")
    uri = str(tmp_path / "simple_commit")
    shutil.copytree(src, uri)

    t = DeltaTable(uri)
    assert t.version == 0
    assert len(t.file_uris()) == 0

    def _adds(specs, mtime):
        return [
            AddAction(path=p, size=s, modification_time=mtime, data_change=True)
            for p, s in specs
        ]

    tx1_adds = _adds(
        [
            ("part-00000-b44fcdb0-8b06-4f3a-8606-f8311a96f6dc-c000.snappy.parquet", 396),
            ("part-00001-185eca06-e017-4dea-ae49-fc48b973e37e-c000.snappy.parquet", 400),
        ],
        1564524294000,
    )
    tx1 = DeltaTransaction(t)
    tx1.add_actions(tx1_adds)
    assert tx1.commit(operation="WRITE") == 1
    t = DeltaTable(uri)
    assert t.version == 1
    assert len(t.file_uris()) == 2

    tx2 = DeltaTransaction(t)
    tx2.add_actions(
        _adds(
            [
                ("part-00000-512e1537-8aaa-4193-b8b4-bef3de0de409-c000.snappy.parquet", 396),
                ("part-00001-4327c977-2734-4477-9507-7ccf67924649-c000.snappy.parquet", 400),
            ],
            1564524296000,
        )
    )
    assert tx2.commit(operation="WRITE") == 2
    t = DeltaTable(uri)
    assert t.version == 2
    assert len(t.file_uris()) == 4

    # low-level parity: a prepared commit racing into a TAKEN version slot
    # must fail for the caller to retry (the optimistic loop's primitive)
    dup = DeltaTransaction(t)
    dup.add_actions(tx1_adds)
    tmp = t.log.write_tmp_commit(dup.actions, "dup-slot")
    with pytest.raises(FileAlreadyExistsError):
        t.log.try_commit(tmp, 2)
    assert DeltaTable(uri).version == 2

    # the committed table is readable end to end: both tx1 and tx2 files
    vals = sorted(r.value for r in t.to_df(spark).collect())
    assert vals == [1, 1, 2, 2, 3, 3]


def test_concurrent_workers_reference_parity(tmp_path, golden):
    """Mirror of rust/tests/concurrent_writes_test.rs::concurrent_writes_fs
    over the reference's own concurrent_workers fixture: 5 workers x 3
    commits race through the optimistic retry loop; versions 1..15 come out
    gapless with no collisions, and every worker's files all land."""
    import shutil
    import threading

    from delta_rs_spark.protocol.actions import AddAction
    from delta_rs_spark.transactions import DeltaTransaction

    src = golden("concurrent_workers")
    uri = str(tmp_path / "concurrent_workers")
    shutil.copytree(src, uri)
    assert DeltaTable(uri).version == 0

    WORKERS, COMMITS = 5, 3
    results: dict[int, str] = {}
    lock = threading.Lock()
    errors: list[Exception] = []

    def worker(w: int) -> None:
        try:
            for c in range(COMMITS):
                name = f"w{w}-{c}"
                t = DeltaTable(uri)
                tx = DeltaTransaction(t)
                tx.add_action(
                    AddAction(
                        path=f"{name}.parquet",
                        size=396,
                        modification_time=1564524294000,
                        data_change=True,
                    )
                )
                v = tx.commit(operation="WRITE")
                with lock:
                    results[v] = name
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(WORKERS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errors, errors

    # no collisions, unique ascending versions 1..15
    assert len(results) == WORKERS * COMMITS
    assert sorted(results) == list(range(1, WORKERS * COMMITS + 1))
    # every worker's file committed exactly as named
    assert sorted(results.values()) == sorted(
        f"w{w}-{c}" for w in range(WORKERS) for c in range(COMMITS)
    )
    # and the final snapshot carries all 15 adds
    final = DeltaTable(uri)
    assert final.version == WORKERS * COMMITS
    assert len(final.file_uris()) == WORKERS * COMMITS
