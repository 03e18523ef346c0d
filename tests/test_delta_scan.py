"""One Delta file scan, ``delta_log.scan_with_file_frame``: the one
place add actions become rows, for snapshot reads, the change feed,
the DML scans and mirror staging.

Pins: per-file values (partition values, commit versions) are frame
data, never literals, so reads of the same shape reuse generated code
and a change feed is one parquet scan; a file listed under two roles
is scanned once and yields one copy of its rows per role; and a read
with nothing per-file to join builds no frame at all.  The frame joins
on the file key's CRC-32 (a long key broadcasts small) unless two of
the read's files share one.
"""

from __future__ import annotations

import json
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (one per generated class
    that missed the codegen cache)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_partition_value_is_data_not_code(spark, tmp_path):
    # two single-tuple tables, same schema, different partition value
    paths = []
    for k in (1, 2):
        path = str(tmp_path / f"k{k}")
        DeltaSink(spark, path, partition_by=["k"]).append(
            spark.range(10).select("id", F.lit(k).alias("k"))
        )
        paths.append(path)
    first = DL.read_snapshot(spark, paths[0])
    assert {r["k"] for r in first.collect()} == {1}
    before = _compiles(spark)
    second = DL.read_snapshot(spark, paths[1]).collect()
    assert _compiles(spark) == before
    assert sorted((r["id"], r["k"]) for r in second) == [(i, 2) for i in range(10)]


def test_change_feed_is_one_scan(spark, tmp_path):
    path = str(tmp_path / "cf")
    sink = DeltaSink(spark, path, partition_by=["k"])
    for c in range(4):
        sink.append(
            spark.range(c * 10, c * 10 + 10).select(
                "id", (F.col("id") % 2).alias("k")
            )
        )
    df = DL.read_changes(spark, path, 0)
    assert _plan(df).count("FileScan parquet") == 1
    got = sorted(
        (r["id"], r["k"], r["_change_type"], r["_commit_version"])
        for r in df.collect()
    )
    assert got == [(i, i % 2, "insert", i // 10) for i in range(40)]


def test_file_inserted_then_removed_reads_once_per_role(spark, tmp_path):
    path = str(tmp_path / "roles")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(5).toDF("id").coalesce(1))  # v0
    sink.append(spark.range(5, 8).toDF("id").coalesce(1))  # v1
    sink.delete("id < 5")  # v2: removes v0's file, rewrites nothing
    df = DL.read_changes(spark, path, 0)
    assert _plan(df).count("FileScan parquet") == 1
    got = sorted(
        (r["id"], r["_change_type"], r["_commit_version"]) for r in df.collect()
    )
    assert got == sorted(
        [(i, "insert", 0) for i in range(5)]
        + [(i, "insert", 1) for i in range(5, 8)]
        + [(i, "delete", 2) for i in range(5)]
    )


def test_no_frame_without_per_file_values(spark, tmp_path):
    path = str(tmp_path / "flat")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(20).toDF("id"))
    sink.delete_dv("id % 3 = 0")
    dv_read = DL.read_snapshot(spark, path)
    assert "__mlk_key" not in _plan(dv_read)
    assert sorted(r["id"] for r in dv_read.collect()) == [
        i for i in range(20) if i % 3
    ]
    sink.reorg()
    scans = []
    dml_scan = sink._dml_scan

    def record(*a, **kw):
        df = dml_scan(*a, **kw)
        scans.append(_plan(df))
        return df

    sink._dml_scan = record
    sink.delete("id = 1")
    assert scans  # the probe, then the rewrite
    assert not any("__mlk_key" in p for p in scans), scans
    # a partitioned read does join its partition values in
    part = str(tmp_path / "part")
    DeltaSink(spark, part, partition_by=["k"]).append(
        spark.range(4).select("id", (F.col("id") % 2).alias("k"))
    )
    assert "__mlk_key" in _plan(DL.read_snapshot(spark, part))


def _write_table(root, files: dict[str, tuple[str, list[int]]]) -> None:
    """A partitioned Delta table written by hand: relative path ->
    (partition value of ``p``, ids)."""
    adds = []
    for rel, (p, ids) in files.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), root / rel)
        adds.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {"p": p},
                    "size": (root / rel).stat().st_size,
                    "modificationTime": 0,
                    "dataChange": True,
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
                "id": "hand",
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


def test_frame_joins_on_crc_unless_two_files_share_one(spark, tmp_path):
    # distinct CRCs: the join key is the file name's CRC-32
    _write_table(
        tmp_path / "plain",
        {"p=a/part-0.parquet": ("a", [1, 2]), "p=b/part-1.parquet": ("b", [3])},
    )
    df = DL.read_snapshot(spark, str(tmp_path / "plain"))
    assert "crc32" in _plan(df)
    assert sorted((r["id"], r["p"]) for r in df.collect()) == [
        (1, "a"), (2, "a"), (3, "b")
    ]
    # a CRC-32 collision: the join falls back to the string key
    names = ("plumless.parquet", "buckeroo.parquet")
    assert len({zlib.crc32(n.encode()) for n in names}) == 1
    _write_table(
        tmp_path / "clash",
        {f"p=a/{names[0]}": ("a", [1, 2]), f"p=b/{names[1]}": ("b", [3, 4, 5])},
    )
    df = DL.read_snapshot(spark, str(tmp_path / "clash"))
    assert "crc32" not in _plan(df)
    assert sorted((r["id"], r["p"]) for r in df.collect()) == [
        (1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "b")
    ]
