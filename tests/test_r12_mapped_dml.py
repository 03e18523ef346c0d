"""Round-12: DeltaSink rewrite operations on COLUMN-MAPPED tables.

Before this round every rewrite path (delete/update/merge/update_dv/
delete_dv) refused a column-mapped table outright — which made a
replica permanently un-mergeable the moment it followed a source
rename.  The rewrite paths now respell reads and writes physically
through ONE helper (_scan_logical; the write side reuses _stage_adds'
rule); mapped AND partitioned stays loud.

Pins: CoW delete/update/merge on a renamed table; CDF change rows on a
mapped table carry physical data columns but read back logically; MoR
delete_dv; nullability-only append drift on a mapped table does not
clobber the mapping; mapped+partitioned still refuses.
"""

import pytest

from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _mapped(spark, path, n=10):
    s = DeltaSink(spark, path)
    s.append(
        spark.range(n)
        .selectExpr("id AS k", "concat('v', id) AS v")
        .coalesce(1)
    )
    s.evolve_rename({"v": "val"})  # enables column mapping
    return s


def test_mapped_delete(spark, tmp_path):
    s = _mapped(spark, str(tmp_path / "t"))
    s.delete("k >= 7")
    got = _rows(DL.read_snapshot(spark, s.path), "k", "val")
    assert got == [(i, f"v{i}") for i in range(7)]


def test_mapped_update(spark, tmp_path):
    s = _mapped(spark, str(tmp_path / "t"))
    s.update("k = 2", {"val": "'two'"})
    got = dict(_rows(DL.read_snapshot(spark, s.path), "k", "val"))
    assert got[2] == "two" and got[3] == "v3"


def test_mapped_merge_with_deletes(spark, tmp_path):
    s = _mapped(spark, str(tmp_path / "t"))
    s.merge(
        spark.sql(
            "SELECT 1 AS k, 'one' AS val UNION ALL SELECT 99, 'new'"
        ),
        key_cols=["k"],
        delete_keys=spark.sql("SELECT 4 AS k"),
    )
    got = dict(_rows(DL.read_snapshot(spark, s.path), "k", "val"))
    assert got[1] == "one" and got[99] == "new" and 4 not in got


def test_mapped_cdf_changes_read_logically(spark, tmp_path):
    s = _mapped(spark, str(tmp_path / "t"))
    s.set_properties({"delta.enableChangeDataFeed": "true"})
    v = s.update("k = 5", {"val": "'five'"})
    ch = DL.read_changes(spark, s.path, from_version=v)
    rows = {
        (r["_change_type"], r["k"], r["val"]) for r in ch.collect()
    }
    assert ("update_preimage", 5, "v5") in rows
    assert ("update_postimage", 5, "five") in rows


def test_mapped_delete_dv(spark, tmp_path):
    s = _mapped(spark, str(tmp_path / "t"))
    s.delete_dv("k % 3 = 0")
    got = [k for k, _ in _rows(DL.read_snapshot(spark, s.path), "k", "val")]
    assert got == [k for k in range(10) if k % 3]


def test_mapped_nullability_drift_append_keeps_mapping(spark, tmp_path):
    s = _mapped(spark, str(tmp_path / "t"))
    before = DL.latest_metadata(spark, s.path)["schemaString"]
    # spark.range's id is NOT NULL — tighter than the recorded nullable
    # schema; must append WITHOUT re-recording metaData
    s.append(
        spark.range(100, 102)
        .selectExpr("id AS k", "'x' AS val")
        .coalesce(1)
    )
    after = DL.latest_metadata(spark, s.path)["schemaString"]
    assert before == after
    got = dict(_rows(DL.read_snapshot(spark, s.path), "k", "val"))
    assert got[100] == "x" and got[0] == "v0"


def test_mapped_partitioned_rewrite_stays_loud(spark, tmp_path):
    from mirror_lake_kusto_spark.sources.delta_log import (
        UnsupportedTableFeature,
    )

    s = DeltaSink(spark, str(tmp_path / "p"), partition_by=["p"])
    s.append(
        spark.range(6).selectExpr(
            "id AS k", "CAST(id % 2 AS STRING) AS p"
        )
    )
    s.evolve_rename({"k": "key"})
    with pytest.raises(UnsupportedTableFeature, match="partition"):
        s.delete("key = 1")
