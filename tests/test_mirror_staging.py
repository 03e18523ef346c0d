"""Mirror staging: each batch is ONE parquet scan whatever its partition
tuples, with every per-file constant (partition values, MLK_BlobPath,
MLK_BatchTxId, the source's base row id) joined in from one broadcast
frame built through Arrow.  Because no batch constant is a literal,
consecutive batches of the same shape reuse their generated code.

Also pins the other driver-built frames to Arrow (``LocalTableScan``):
a frame built from Python tuples plans as ``Scan ExistingRDD`` over a
PythonRDD and pays Python workers on every evaluation.
"""

from __future__ import annotations

import json

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


def _mk(spark, tmp_path, name, **kw):
    return MirrorPipeline(
        spark,
        str(tmp_path / f"{name}_src"),
        str(tmp_path / f"{name}_dst"),
        str(tmp_path / f"{name}_state"),
        table_name=name,
        **kw,
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (one per generated class
    that missed the codegen cache)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _capture_staged(p) -> list[str]:
    """Record the plan of every frame the pipeline hands its sink."""
    plans: list[str] = []
    append = p.sink.append

    def capture(df, *a, **kw):
        plans.append(_plan(df))
        return append(df, *a, **kw)

    p.sink.append = capture
    return plans


def test_consecutive_batches_compile_no_new_code(spark, tmp_path):
    p = _mk(spark, tmp_path, "codegen")
    src = DeltaSink(spark, p.source, partition_by=["k"])

    def batch(lo: int) -> int:
        src.append(
            spark.range(lo, lo + 40).select(
                "id", (F.col("id") % 2).alias("k")
            )
        )
        before = _compiles(spark)
        assert p.run_once()["status"] == "processed"
        return _compiles(spark) - before

    batch(0)  # first sync: creates the mirror and the state table
    batch(40)
    assert batch(80) == 0
    assert p.mirror_df().count() == 120


def test_multi_tuple_batch_is_one_scan(spark, tmp_path):
    p = _mk(spark, tmp_path, "onescan")
    DeltaSink(spark, p.source, partition_by=["k"]).append(
        spark.range(30).select("id", (F.col("id") % 3).alias("k"))
    )
    plans = _capture_staged(p)
    p.run_once()
    assert len(plans) == 1
    assert plans[0].count("FileScan parquet") == 1, plans[0]
    assert "Scan ExistingRDD" not in plans[0]
    assert sorted(
        (r["id"], r["k"]) for r in p.mirror_df().select("id", "k").collect()
    ) == [(i, i % 3) for i in range(30)]


def _write_foreign_source(root) -> None:
    """A partitioned Delta table as a non-DeltaSink writer may lay it
    out: the same basename in every partition directory."""
    adds = []
    for k, ids in (("a", [1, 2]), ("b", [3, 4, 5])):
        (root / f"p={k}").mkdir(parents=True)
        rel = f"p={k}/part-00000-x.parquet"
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), root / rel)
        adds.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {"p": k},
                    "size": (root / rel).stat().st_size,
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": len(ids)}),
                }
            }
        )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "p", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
    (root / "_delta_log").mkdir()
    commit = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "foreign",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": ["p"],
                "configuration": {},
                "createdTime": 0,
            }
        },
        *adds,
    ]
    (root / "_delta_log" / f"{0:020d}.json").write_text(
        "".join(json.dumps(a) + "\n" for a in commit)
    )


def test_repeated_basenames_key_on_full_path(spark, tmp_path):
    p = _mk(spark, tmp_path, "dup")
    root = tmp_path / "dup_src"
    _write_foreign_source(root)
    p.run_until_idle()
    got = sorted(
        (r["id"], r["p"], r["MLK_BlobPath"])
        for r in p.mirror_df().select("id", "p", "MLK_BlobPath").collect()
    )
    a = p._lineage_path("p=a/part-00000-x.parquet")
    b = p._lineage_path("p=b/part-00000-x.parquet")
    assert got == [(1, "a", a), (2, "a", a), (3, "b", b), (4, "b", b), (5, "b", b)]
    (root / "_delta_log" / f"{1:020d}.json").write_text(
        json.dumps(
            {
                "remove": {
                    "path": "p=a/part-00000-x.parquet",
                    "deletionTimestamp": 1,
                    "dataChange": True,
                }
            }
        )
        + "\n"
    )
    p.run_until_idle()
    assert sorted(r["id"] for r in p.mirror_df().collect()) == [3, 4, 5]


# -- driver-built frames plan as LocalTableScan -----------------------------


def _row_tracked(spark, path) -> DeltaSink:
    sink = DeltaSink(spark, path)
    # one file, so a delete of one id rewrites it: a file whose every
    # row matches is removed unread and builds no frame
    sink.append(spark.range(4).toDF("id").coalesce(1))
    sink.set_properties({"delta.enableRowTracking": "true"})
    return sink


def _read_snapshot_row_ids(spark, tmp_path):
    path = str(tmp_path / "rt_read")
    _row_tracked(spark, path)
    return lambda: DL.read_snapshot(spark, path, row_ids=True).collect()


def _prune_partitions(spark, tmp_path):
    meta = {
        "schemaString": json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "k", "type": "integer", "nullable": True, "metadata": {}}
                ],
            }
        ),
        "partitionColumns": ["k"],
    }
    files = [{"path": f"k={i}/f", "partitionValues": {"k": str(i)}} for i in range(3)]
    return lambda: DL._prune_partitions(spark, files, meta, "k > 0")


def _row_tracked_delete(spark, tmp_path):
    sink = _row_tracked(spark, str(tmp_path / "rt_delete"))
    return lambda: sink.delete("id = 1")


def _latest_add_items(spark, tmp_path):
    p = _mk(spark, tmp_path, "probe")
    DeltaSink(spark, p.source).append(spark.range(3).toDF("id"))
    p.run_once()
    paths = {r["blob_path"] for r in p.state.adds_df("probe").collect()}
    p.state.steering_is_driver_side = lambda: False
    return lambda: p._latest_add_items(paths)


def _creation_times(spark, tmp_path):
    p = _mk(
        spark,
        tmp_path,
        "ct",
        go_back_days=1,
        creation_time_expr="to_timestamp(concat(p0, '-01-01'))",
    )
    DeltaSink(spark, p.source, partition_by=["year"]).append(
        spark.range(4).select("id", (F.col("id") % 2 + 2020).alias("year"))
    )
    p._resolved_creation_expr(["p0"])
    items = [
        {"blob_path": f"f{y}", "partition_values": json.dumps({"year": str(y)})}
        for y in (2020, 2021)
    ]
    return lambda: p._creation_times(items, DL.snapshot(p.source))


_FRAME_SITES = {
    f.__name__.lstrip("_"): f
    for f in (
        _read_snapshot_row_ids,
        _prune_partitions,
        _row_tracked_delete,
        _latest_add_items,
        _creation_times,
    )
}


@pytest.mark.parametrize("site", sorted(_FRAME_SITES))
def test_driver_frames_plan_as_local_table_scan(spark, tmp_path, monkeypatch, site):
    call = _FRAME_SITES[site](spark, tmp_path)
    built = []
    create = spark.createDataFrame

    def record(*a, **kw):
        df = create(*a, **kw)
        built.append(df)
        return df

    monkeypatch.setattr(spark, "createDataFrame", record)
    call()
    assert built
    for df in built:
        plan = _plan(df)
        assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, plan
