from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

REFERENCE_DATA = "/root/reference/rust/tests/data"
TESTDATA_SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from delta_rs_spark.session import get_spark

    spark = get_spark("delta_rs_spark_tests")
    yield spark


@pytest.fixture()
def golden(request):
    """Path of a reference golden table (read-only fixture data)."""

    def _path(name: str) -> str:
        p = os.path.join(REFERENCE_DATA, name)
        if not os.path.isdir(p):
            pytest.skip(f"golden table {name} not available")
        return p

    return _path


@pytest.fixture()
def sf_dir() -> str:
    if not os.path.isdir(TESTDATA_SF):
        pytest.skip("testdata not available")
    return TESTDATA_SF


@pytest.fixture()
def engine_log_table(spark, tmp_path) -> str:
    """Path of a table the engine writes itself — versions 0-4, with add
    and remove actions (an overwrite at v3) — for log-replay tests that
    must not depend on external fixture data."""
    from delta_rs_spark.writer import write_deltalake

    uri = str(tmp_path / "engine_log_table")
    for i, mode in enumerate(["append", "append", "append", "overwrite", "append"]):
        write_deltalake(spark, spark.range(10 * i, 10 * i + 5), uri, mode=mode)
    return uri
