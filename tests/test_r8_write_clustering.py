"""Round-8 write-time clustering: on a CLUSTER BY table, fresh appends
are ordered along the declared Hilbert curve AT INGEST, so per-file
stats prune between OPTIMIZE passes — and the adds carry the clustering
provenance tag, so the incremental OPTIMIZE leaves them in place."""

import json

import pyspark.sql.functions as F
import pytest

from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink

# appends on a CLUSTER BY table compute the Hilbert key; the legacy
# PandasUDFType form of a pandas UDF would warn on every declaration
pytestmark = pytest.mark.filterwarnings(
    "error:.*preferred to specify type hints for pandas UDF:UserWarning"
)


def _files_scanned(spark, path, pred):
    return (
        DL.read_snapshot(spark, path, predicate=pred)
        .select(F.input_file_name())
        .distinct()
        .count()
    )


def test_fresh_appends_prune_without_optimize(spark, tmp_path):
    """A clustered table that has NEVER been OPTIMIZEd still prunes:
    the append itself laid the data out along the curve."""
    path = str(tmp_path / "wc")
    n = 20_000
    sink = DeltaSink(spark, path)
    # seed commit declares the clustering, then the REAL data arrives
    # as fresh appends (shuffled key order, 8 input partitions)
    sink.append(
        spark.range(2).selectExpr("id AS a", "id AS b", "string(id) AS s")
    )
    sink.set_cluster_by(["a", "b"])
    sink.append(
        spark.range(n)
        .selectExpr(
            "id AS a",
            f"cast((id * 7919) % {n} AS long) AS b",
            "string(id) AS s",
        )
        .repartition(8)
    )
    ops = [r["operation"] for r in sink.history().collect()]
    assert "OPTIMIZE CLUSTER BY" not in ops  # never optimized
    files = DL.snapshot_files(spark, path)
    tagged = [
        f for f in files
        if (f.get("tags") or {}).get("MLK_CLUSTERED_BY") == "a,b"
    ]
    assert len(tagged) >= 4  # the fresh append, written clustered
    n_total = len(files)
    n_a = _files_scanned(spark, path, f"a >= 100 AND a < {n // 4}")
    n_b = _files_scanned(spark, path, f"b >= 100 AND b < {n // 4}")
    assert n_a <= n_total // 2, (n_a, n_total)
    assert n_b <= n_total // 2, (n_b, n_total)
    # correctness under pruning
    assert (
        DL.read_snapshot(
            spark, path, predicate=f"a >= 100 AND a < {n // 4}"
        ).count()
        == n // 4 - 100
    )


def test_incremental_optimize_leaves_write_clustered_adds(spark, tmp_path):
    """Write-time-clustered files carry the provenance tag, so a later
    bare OPTIMIZE is O(new-unclustered-data): it does not rewrite
    them (their paths survive)."""
    path = str(tmp_path / "wci")
    sink = DeltaSink(spark, path)
    sink.append(
        spark.range(2).selectExpr("id AS a", "cast(id AS long) AS b")
    )
    sink.set_cluster_by(["a", "b"])
    sink.append(
        spark.range(5_000)
        .selectExpr("id AS a", "cast((id * 31) % 5000 AS long) AS b")
        .repartition(4)
    )
    clustered = [
        f
        for f in DL.snapshot_files(spark, path)
        if (f.get("tags") or {}).get("MLK_CLUSTERED_BY") == "a,b"
    ]
    assert clustered
    clustered_paths = {f["path"] for f in clustered}
    # target chosen so every tagged file sits AT/ABOVE the small-file
    # compaction floor (target/4) — at-scale-sized generations stay put
    target = 4 * min(f["size"] for f in clustered)
    sink.optimize(target_file_bytes=target)
    after = {f["path"] for f in DL.snapshot_files(spark, path)}
    assert clustered_paths <= after  # incremental: tagged files stay put


def test_monotonic_append_past_table_bounds_still_separates(spark, tmp_path):
    """The batch's own bounds join the table's stats bounds: an append
    entirely PAST the known range (the timestamp/increasing-key
    pattern) must not collapse into one curve cell — its files still
    carry distinct, prunable ranges."""
    path = str(tmp_path / "wcm")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(100).selectExpr("id AS a", "id AS b"))
    sink.set_cluster_by(["a", "b"])
    # everything in this batch is way beyond [0, 100)
    sink.append(
        spark.range(1_000_000, 1_020_000)
        .selectExpr("id AS a", "id AS b")
        .repartition(8)
    )
    fresh = [
        f for f in DL.snapshot_files(spark, path)
        if (f.get("tags") or {}).get("MLK_CLUSTERED_BY")
    ]
    assert len(fresh) >= 4
    spans = []
    for f in fresh:
        st = json.loads(f["stats"])
        spans.append(
            (st["minValues"]["a"], st["maxValues"]["a"])
        )
    spans.sort()
    # files partition the key range instead of all spanning it:
    # consecutive files overlap (nearly) nowhere
    overlaps = sum(
        1 for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]) if hi1 > lo2
    )
    assert overlaps == 0, spans


def test_unclustered_table_append_unchanged(spark, tmp_path):
    """No CLUSTER BY declaration -> append is byte-for-byte the old
    path: no tags, no extra shuffle artifacts."""
    path = str(tmp_path / "wcn")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(10).selectExpr("id AS a"))
    assert all(
        not (f.get("tags") or {})
        for f in DL.snapshot_files(spark, path)
    )


def test_incremental_optimize_compacts_small_clustered_files(spark, tmp_path):
    """Repeated small appends each emit a small clustered generation;
    incremental OPTIMIZE compacts those along the curve (files under
    target/4 re-enter the rewrite) instead of skipping them forever —
    and once compacted past the floor they stay put."""
    path = str(tmp_path / "wcc")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(2).selectExpr("id AS a", "id AS b"))
    sink.set_cluster_by(["a", "b"])
    for i in range(4):  # 4 small clustered generations
        sink.append(
            spark.range(i * 1000, (i + 1) * 1000)
            .selectExpr("id AS a", "cast(id * 13 % 4000 AS long) AS b")
            .coalesce(1)
        )
    n_before = len(DL.snapshot_files(spark, path))
    assert n_before >= 5
    sink.optimize(target_file_bytes=64 << 20)  # all files under floor
    files = DL.snapshot_files(spark, path)
    assert len(files) < n_before  # compacted
    assert all(
        (f.get("tags") or {}).get("MLK_CLUSTERED_BY") == "a,b"
        for f in files
    )
    # rows intact
    assert DL.read_snapshot(spark, path).count() == 4002
    # converged: a second incremental OPTIMIZE is a no-op (the one
    # compacted file sits alone under the floor — rewriting it solo
    # would churn the log forever)
    head = DL.list_commit_versions(path)[-1]
    sink.optimize(target_file_bytes=64 << 20)
    new_head = DL.list_commit_versions(path)[-1]
    assert (
        new_head == head
        or len(DL.snapshot_files(spark, path)) == len(files)
    )
