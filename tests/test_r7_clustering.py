"""Round-7 liquid clustering: set_cluster_by (clustering writer
feature + delta.clustering domain metadata) and Hilbert-curve OPTIMIZE.

The Hilbert curve is the layout liquid clustering uses in place of the
z-curve: no diagonal jumps, so consecutive rows are always adjacent in
key space and per-file [min, max] ranges stay tight on EVERY
clustering key — verified here as real file pruning on both keys.
"""

import json

import numpy as np
import pyspark.sql.functions as F
import pytest

from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink
from mirror_lake_kusto_spark.sources.skipping import hilbert_column, hilbert_index

# the legacy PandasUDFType form of a pandas UDF warns on every
# declaration; the Hilbert key must stay on the type-hinted form
pytestmark = pytest.mark.filterwarnings(
    "error:.*preferred to specify type hints for pandas UDF:UserWarning"
)


@pytest.mark.parametrize("n,bits", [(2, 1), (2, 4), (3, 3), (4, 2)])
def test_hilbert_is_a_space_filling_curve(n, bits):
    """Bijective over the full grid AND unit-Manhattan steps between
    consecutive indices — the two properties that make per-file
    ranges tight (a z-curve fails the second: diagonal jumps)."""
    side = 1 << bits
    grid = (
        np.stack(np.meshgrid(*[np.arange(side)] * n, indexing="ij"))
        .reshape(n, -1)
        .astype(np.uint64)
    )
    idx = hilbert_index(grid, bits)
    assert sorted(idx) == list(range(side**n))
    order = np.argsort(idx)
    steps = np.abs(np.diff(grid[:, order].astype(np.int64), axis=1))
    assert (steps.sum(axis=0) == 1).all()


def _clustered_table(spark, tmp_path, name, n=20_000):
    path = str(tmp_path / name)
    sink = DeltaSink(spark, path)
    sink.append(
        spark.range(n)
        .selectExpr(
            "id AS a",
            f"cast((id * 7919) % {n} AS long) AS b",
            "string(id) AS s",
        )
        .repartition(8)
    )
    return sink


def test_hilbert_column_matches_hilbert_index(spark):
    """The Spark-side key is the numpy curve over the scaled proxies,
    column order kept and nulls in bucket 0."""
    rows = [(a, b) for a in (None, 0, 5, 15) for b in (None, 0.0, 7.5, 15.0)]
    df = spark.createDataFrame(rows, "a long, b double")
    bounds = {"a": (0.0, 15.0), "b": (0.0, 15.0)}
    got = [
        r[0]
        for r in df.select(
            hilbert_column(["a", "b"], bounds, df.schema, bits=4)
        ).collect()
    ]
    coords = np.array(
        [[int(a or 0) for a, _ in rows], [int(b or 0) for _, b in rows]],
        dtype=np.uint64,
    )
    assert got == hilbert_index(coords, 4).tolist()


def test_set_cluster_by_protocol_and_domain(spark, tmp_path):
    sink = _clustered_table(spark, tmp_path, "c1")
    v = sink.set_cluster_by(["a", "b"])
    assert v == 1
    pr = DL.latest_protocol(sink.path)
    wf = set(pr.get("writerFeatures") or [])
    assert {"clustering", "domainMetadata"} <= wf
    # writer-only: reader version untouched
    assert (pr.get("minReaderVersion") or 1) == 1
    dm = DL.latest_domain_metadata(sink.path)
    assert json.loads(dm["delta.clustering"]) == {
        "clusteringColumns": [["a"], ["b"]]
    }
    assert sink.set_cluster_by(["a", "b"]) == -1  # idempotent
    assert sink._clustering_columns() == ["a", "b"]
    # re-declaring different columns is a new commit
    assert sink.set_cluster_by(["b"]) > 1
    assert sink._clustering_columns() == ["b"]


def test_set_cluster_by_validation(spark, tmp_path):
    path = str(tmp_path / "c2")
    sink = DeltaSink(spark, path, partition_by=["p"])
    with pytest.raises(ValueError, match="before the table exists"):
        sink.set_cluster_by(["a"])
    sink.append(
        spark.range(10).selectExpr("id AS a", "id % 2 AS p")
    )
    with pytest.raises(ValueError, match="partition columns"):
        sink.set_cluster_by(["p"])
    with pytest.raises(ValueError, match="unknown cluster column"):
        sink.set_cluster_by(["nope"])
    with pytest.raises(ValueError, match="at least one"):
        sink.set_cluster_by([])


def test_optimize_clusters_and_prunes_both_keys(spark, tmp_path):
    """A bare OPTIMIZE on a clustered table lays out along the Hilbert
    curve; single-key predicates on EITHER cluster key then skip a
    majority of files via per-file stats."""
    sink = _clustered_table(spark, tmp_path, "c3")
    sink.set_cluster_by(["a", "b"])
    sink.optimize(target_file_bytes=40_000)
    ops = [r["operation"] for r in sink.history().collect()]
    assert "OPTIMIZE CLUSTER BY" in ops
    files = DL.snapshot_files(spark, sink.path)
    assert len(files) >= 4
    # layout churn must not re-ingest through the mirror: dataChange
    # false on every rewritten add
    head = max(
        int(f.name[:20])
        for f in __import__("pathlib").Path(sink.path, "_delta_log").glob("*.json")
    )
    acts = [
        json.loads(line)
        for line in open(
            f"{sink.path}/_delta_log/{head:020d}.json"
        )
        if line.strip()
    ]
    assert all(
        a["add"].get("dataChange") is False for a in acts if "add" in a
    )

    def files_scanned(pred):
        return (
            DL.read_snapshot(spark, sink.path, predicate=pred)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    n_total = len(files)
    n_a = files_scanned("a >= 100 AND a < 300")
    n_b = files_scanned("b >= 100 AND b < 300")
    assert n_a <= n_total // 2, (n_a, n_total)
    assert n_b <= n_total // 2, (n_b, n_total)
    # correctness under pruning
    assert (
        DL.read_snapshot(
            spark, sink.path, predicate="a >= 100 AND a < 300"
        ).count()
        == 200
    )
    assert (
        DL.read_snapshot(
            spark, sink.path, predicate="b >= 100 AND b < 300"
        ).count()
        == 200
    )


def test_optimize_explicit_cluster_by_and_exclusivity(spark, tmp_path):
    sink = _clustered_table(spark, tmp_path, "c4", n=5_000)
    with pytest.raises(ValueError, match="mutually exclusive"):
        sink.optimize(zorder_by=["a"], cluster_by=["b"])
    # one-off cluster_by without a declaration also works
    sink.optimize(target_file_bytes=30_000, cluster_by=["a", "b"])
    assert "OPTIMIZE CLUSTER BY" in [
        r["operation"] for r in sink.history().collect()
    ]
    assert DL.read_snapshot(spark, sink.path).count() == 5_000


def test_mirror_cluster_by_with_no_target_data_is_noop(spark, tmp_path):
    """optimize_target_cluster_by on a sync that landed NO data (all
    source adds empty-skipped, target never created) must no-op like
    the zorder twin, not crash run_once."""
    src_path = str(tmp_path / "mcempty_src")
    src = DeltaSink(spark, src_path)
    src.append(spark.range(0).toDF("id"))  # zero-row files only
    p = MirrorPipeline(
        spark,
        src_path,
        str(tmp_path / "mcempty_dst"),
        str(tmp_path / "mcempty_state"),
        table_name="mcempty",
        optimize_target_every=1,
        optimize_target_cluster_by=["id"],
    )
    res = p.run_until_idle()  # must not raise
    assert res and res[0]["adds_staged"] == 0
    # once data arrives, clustering declares + applies
    src.append(spark.range(100).toDF("id"))
    p.run_until_idle()
    assert p.mirror_df().count() == 100
    assert "clustering" in (
        DL.latest_protocol(p.sink.path).get("writerFeatures") or []
    )


def test_set_cluster_by_refuses_renamed_partition_column(spark, tmp_path):
    """On a column-mapped table partitionColumns are PHYSICAL — the
    exclusivity check must compare logically, or a renamed partition
    column slips through."""
    path = str(tmp_path / "cmap")
    sink = DeltaSink(spark, path, partition_by=["p"])
    sink.append(spark.range(10).selectExpr("id AS a", "id % 2 AS p"))
    sink.evolve_rename({"p": "bucket"})  # partition col renamed
    with pytest.raises(ValueError, match="partition columns"):
        sink.set_cluster_by(["bucket"])
    sink.set_cluster_by(["a"])  # data column still fine


def test_optimize_clustering_is_incremental(spark, tmp_path):
    """The liquid model at 100 TB: a clustered OPTIMIZE rewrites only
    files a prior CLUSTER BY did not already produce — O(new data) per
    maintenance pass.  full=True forces the whole-table re-cluster."""
    sink = _clustered_table(spark, tmp_path, "ci1")
    sink.set_cluster_by(["a", "b"])
    sink.optimize(target_file_bytes=40_000)
    snap1 = DL.snapshot_files(spark, sink.path)
    assert all(
        (f.get("tags") or {}).get("MLK_CLUSTERED_BY") == "a,b"
        for f in snap1
    )
    head1 = max(
        r["version"] for r in sink.history().select("version").collect()
    )
    # nothing new -> nothing rewritten, no empty commit
    sink.optimize(target_file_bytes=40_000)
    head2 = max(
        r["version"] for r in sink.history().select("version").collect()
    )
    assert head2 == head1
    assert {f["path"] for f in DL.snapshot_files(spark, sink.path)} == {
        f["path"] for f in snap1
    }
    # new data -> ONLY the new files rewrite; generation 1 stays put
    sink.append(
        spark.range(20_000, 22_000).selectExpr(
            "id AS a", "cast((id * 7919) % 20000 AS long) AS b",
            "string(id) AS s",
        )
    )
    sink.optimize(target_file_bytes=40_000)
    snap3 = DL.snapshot_files(spark, sink.path)
    assert {f["path"] for f in snap1} <= {f["path"] for f in snap3}
    fresh = [f for f in snap3 if f["path"] not in {g["path"] for g in snap1}]
    assert fresh and all(
        (f.get("tags") or {}).get("MLK_CLUSTERED_BY") == "a,b"
        for f in fresh
    )
    # FULL re-cluster replaces every file
    sink.optimize(target_file_bytes=40_000, full=True)
    snap4 = {f["path"] for f in DL.snapshot_files(spark, sink.path)}
    assert not (snap4 & {f["path"] for f in snap3})
    assert DL.read_snapshot(spark, sink.path).count() == 22_000


def test_cluster_tags_survive_checkpoint_and_vacuum(spark, tmp_path):
    """Provenance tags must ride through checkpoint reconciliation and
    log truncation, or the first OPTIMIZE after a vacuum re-clusters
    the whole table for nothing."""
    sink = _clustered_table(spark, tmp_path, "ci2", n=8_000)
    sink.set_cluster_by(["a", "b"])
    sink.optimize(target_file_bytes=40_000)
    head = max(
        r["version"] for r in sink.history().select("version").collect()
    )
    sink._write_checkpoint(head)
    sink.vacuum()  # truncates JSON commits <= checkpoint
    snap = DL.snapshot_files(spark, sink.path)
    assert all(
        (f.get("tags") or {}).get("MLK_CLUSTERED_BY") == "a,b"
        for f in snap
    )
    sink.optimize(target_file_bytes=40_000)  # must be a no-op
    assert {f["path"] for f in DL.snapshot_files(spark, sink.path)} == {
        f["path"] for f in snap
    }


def test_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL: table-level metadata in one metadata-only row
    — clustering columns, live files/bytes, protocol features."""
    sink = _clustered_table(spark, tmp_path, "cdet", n=2_000)
    sink.set_cluster_by(["a", "b"])
    sink.optimize(target_file_bytes=20_000)
    d = sink.detail().collect()[0]
    assert d["format"] == "parquet" and d["location"] == sink.path
    assert d["partitionColumns"] == []
    assert d["clusteringColumns"] == ["a", "b"]
    files = DL.snapshot_files(spark, sink.path)
    assert d["numFiles"] == len(files)
    assert d["sizeInBytes"] == sum(f["size"] for f in files)
    assert "clustering" in d["tableFeatures"]
    assert d["minWriterVersion"] == 7


def test_mirror_clustered_target(spark, tmp_path):
    """optimize_target_cluster_by: the mirror DECLARES clustering on
    its target and every periodic OPTIMIZE Hilbert-clusters it; rows
    stay exact."""
    src_path = str(tmp_path / "mc_src")
    src = DeltaSink(spark, src_path)
    src.append(
        spark.range(4_000).selectExpr(
            "id AS a", "cast((id * 37) % 4000 AS long) AS b"
        )
    )
    p = MirrorPipeline(
        spark,
        src_path,
        str(tmp_path / "mc_dst"),
        str(tmp_path / "mc_state"),
        table_name="mc",
        optimize_target_every=1,
        optimize_target_cluster_by=["a", "b"],
    )
    p.run_until_idle()
    pr = DL.latest_protocol(p.sink.path)
    assert "clustering" in (pr.get("writerFeatures") or [])
    dm = DL.latest_domain_metadata(p.sink.path)
    assert json.loads(dm["delta.clustering"])["clusteringColumns"] == [
        ["a"],
        ["b"],
    ]
    assert "OPTIMIZE CLUSTER BY" in [
        r["operation"] for r in p.sink.history().collect()
    ]
    got = sorted(r["a"] for r in p.mirror_df().collect())
    assert got == list(range(4_000))
    # a second sync re-declares idempotently (no growth in domain spam)
    src.append(
        spark.range(4_000, 4_100).selectExpr(
            "id AS a", "cast((id * 37) % 4000 AS long) AS b"
        )
    )
    p.run_until_idle()
    assert p.mirror_df().count() == 4_100
    with pytest.raises(ValueError, match="mutually exclusive"):
        MirrorPipeline(
            spark,
            src_path,
            str(tmp_path / "mc2_dst"),
            str(tmp_path / "mc2_state"),
            table_name="mc2",
            optimize_target_zorder_by=["a"],
            optimize_target_cluster_by=["b"],
        )
