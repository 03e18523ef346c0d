"""Round-9 distributed DV-payload handling: past
``dv.DRIVER_DECODE_FILES`` DV'd files, existing bitmap payloads are
fetched and decoded by EXECUTORS from descriptor rows — the driver
never materializes a payload dict (flat RSS at any DV'd-file count).
These tests force the distributed path (threshold 0) and assert it is
result-identical to the driver-decode path on every merge-on-read DML.
"""

import pytest

from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources import dv as dvm
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


@pytest.fixture
def dist(monkeypatch):
    monkeypatch.setattr(dvm, "DRIVER_DECODE_FILES", 0)


def _mk(spark, tmp_path):
    sink = DeltaSink(spark, str(tmp_path / "t"))
    # several files so multiple descriptors flow through the frame
    for lo in (0, 40, 80):
        sink.append(
            spark.range(lo, lo + 40).selectExpr(
                "id", "id % 5 AS k", "CAST(id AS DOUBLE) AS v"
            ).coalesce(2)
        )
    return sink


def _ids(spark, path):
    return sorted(r.id for r in DL.read_snapshot(spark, path).collect())


def test_delete_dv_distributed_and_growth(spark, tmp_path, dist):
    sink = _mk(spark, tmp_path)
    sink.delete_dv("k = 1")
    assert _ids(spark, sink.path) == [i for i in range(120) if i % 5 != 1]
    # second delete merges EXECUTOR-fetched old bitmaps with new rows
    sink.delete_dv("k = 3")
    assert _ids(spark, sink.path) == [
        i for i in range(120) if i % 5 not in (1, 3)
    ]


def test_update_dv_distributed(spark, tmp_path, dist):
    sink = _mk(spark, tmp_path)
    sink.delete_dv("k = 0")
    sink.update_dv("k = 2", {"v": "v + 1000"})
    got = {r.id: r.v for r in DL.read_snapshot(spark, sink.path).collect()}
    assert set(got) == {i for i in range(120) if i % 5 != 0}
    for i, v in got.items():
        assert v == (i + 1000.0 if i % 5 == 2 else float(i))


def test_merge_dv_distributed(spark, tmp_path, dist):
    sink = _mk(spark, tmp_path)
    sink.delete_dv("k = 4")
    src = spark.range(10).selectExpr(
        "id", "CAST(99 AS BIGINT) AS k", "CAST(-1 AS DOUBLE) AS v"
    )
    sink.merge_dv(src, ["id"])
    got = {r.id: (r.k, r.v) for r in DL.read_snapshot(spark, sink.path).collect()}
    # ids 0..9: upserted (even previously-DV'd id 4 gets re-inserted
    # by the merge, Delta MERGE semantics: source rows not matched
    # against LIVE rows insert)
    for i in range(10):
        assert got[i] == (99, -1.0)
    for i in range(10, 120):
        if i % 5 == 4:
            assert i not in got
        else:
            assert got[i] == (i % 5, float(i))


def test_distributed_equals_broadcast(spark, tmp_path, monkeypatch):
    """Same DML sequence under both thresholds -> identical tables."""
    results = {}
    for name, thresh in (("bc", 10_000), ("dist", 0)):
        monkeypatch.setattr(dvm, "DRIVER_DECODE_FILES", thresh)
        sink = DeltaSink(spark, str(tmp_path / name))
        for lo in (0, 30):
            sink.append(
                spark.range(lo, lo + 30).selectExpr(
                    "id", "id % 4 AS k", "CAST(id AS DOUBLE) AS v"
                ).coalesce(2)
            )
        sink.delete_dv("k = 0")
        sink.update_dv("k = 1", {"v": "v * 10"})
        sink.delete_dv("k = 1 AND id >= 30")
        results[name] = sorted(
            (r.id, r.k, r.v)
            for r in DL.read_snapshot(spark, sink.path).collect()
        )
    assert results["bc"] == results["dist"]
