"""Copy-on-write ≡ merge-on-read DML.

One table is built twice — once with ``delta.enableDeletionVectors=true``
(DELETE, UPDATE and MERGE write deletion vectors and only the changed rows)
and once without (they rewrite the touched files) — with the change data
feed and row tracking on for both. The same statement sequence runs on
both copies; after every step the two must agree on the rows, the change
feed, the row counts the statement reports and the row ids.
"""

from __future__ import annotations

from delta_rs_spark import DeltaTable, write_deltalake

CFG = {"delta.enableChangeDataFeed": "true", "delta.enableRowTracking": "true"}
COUNTS = (
    "numDeletedRows",
    "numUpdatedRows",
    "numTargetRowsUpdated",
    "numTargetRowsDeleted",
    "numTargetRowsInserted",
)


def _source(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS k", "concat('s', id) AS name", "id * 100 AS v"
    )


def _steps(spark):
    return [
        ("row-level delete", lambda t: t.delete(spark, "k % 5 = 1")),
        (
            "update",
            lambda t: t.update_where(
                spark, "k % 4 = 2", {"v": "v + 1000", "name": "concat(name, '_u')"}
            ),
        ),
        ("upsert merge", lambda t: t.merge(spark, _source(spark, 30, 50), "t.k = s.k")),
        (
            # keys 0-11 are every live row of the first file: merge-on-read
            # removes it without a DV re-add
            "matched-delete merge",
            lambda t: t.merge(
                spark,
                _source(spark, 0, 12),
                "t.k = s.k",
                when_matched_delete=True,
                when_not_matched_insert=False,
            ),
        ),
        (
            "full-sync merge",
            lambda t: t.merge(
                spark,
                _source(spark, 8, 45),
                "t.k = s.k",
                when_not_matched_by_source_delete=True,
            ),
        ),
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _cdf(spark, t):
    return _rows(t.load_cdf(spark, starting_version=0).drop("_commit_timestamp"))


def _ids(spark, t):
    return {
        r.k: (r._row_id, r._row_commit_version)
        for r in t.to_df(spark, with_row_ids=True).collect()
    }


def test_cow_and_mor_dml_agree_step_by_step(spark, tmp_path):
    base = spark.range(0, 40).selectExpr(
        "id AS k", "concat('n', id) AS name", "id * 10 AS v"
    ).coalesce(1)
    tables = {}
    for name, dv in (("cow", "false"), ("mor", "true")):
        uri = str(tmp_path / name)
        write_deltalake(
            spark,
            base,
            uri,
            max_records_per_file=10,
            configuration={**CFG, "delta.enableDeletionVectors": dv},
        )
        tables[name] = DeltaTable(uri)
    cow, mor = tables["cow"], tables["mor"]
    # keys whose row has lived since the table was written
    original_keys = set(range(40))
    prev = {name: _ids(spark, t) for name, t in tables.items()}
    assert prev["cow"] == prev["mor"]

    for step, run in _steps(spark):
        res_cow, res_mor = run(cow), run(mor)
        # the two really took different paths
        assert "numDeletionVectorsAdded" not in res_cow, step
        assert "numDeletionVectorsAdded" in res_mor, step
        assert {k: res_cow.get(k) for k in COUNTS} == {
            k: res_mor.get(k) for k in COUNTS
        }, step
        assert res_cow["version"] == res_mor["version"], step
        if step == "matched-delete merge":
            assert res_mor["numRemovedFiles"] >= 1

        assert _rows(cow.to_df(spark)) == _rows(mor.to_df(spark)), step
        assert _cdf(spark, cow) == _cdf(spark, mor), step

        ids = {name: _ids(spark, t) for name, t in tables.items()}
        assert ids["cow"].keys() == ids["mor"].keys(), step
        for name, cur in ids.items():
            row_ids = [rid for rid, _ in cur.values()]
            assert None not in row_ids and len(set(row_ids)) == len(row_ids), (step, name)
            # a row that lives through a statement keeps its id
            for k in cur.keys() & prev[name].keys():
                assert cur[k][0] == prev[name][k][0], (step, name, k)
        # rows of the original table carry the same id and commit version on
        # both; a row inserted by a MERGE gets a fresh id off each table's
        # high-water mark, which a rewrite advances and a DV commit does not
        original_keys &= ids["cow"].keys()
        for k in ids["cow"]:
            if k in original_keys:
                assert ids["cow"][k] == ids["mor"][k], (step, k)
            else:
                assert ids["cow"][k][1] == ids["mor"][k][1], (step, k)
        prev = ids
