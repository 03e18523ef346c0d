"""Round-7 driver-memory guards:

- a single FAT COMMIT (action count > max_items_per_batch) mirrors in
  path-ordered chunks instead of collecting the whole coalesced
  segment to the driver (SURVEY §7.4 ceiling, closing the one
  unbounded-collect hatch left after r5's span chunking);
- similarity query frames are collected under an explicit driver
  budget (the query matrix is broadcast — corpus-sized "queries" must
  fail loudly, not OOM);
- the protocol fail-closed error NAMES known-but-unsupported features
  (catalogManaged / coordinatedCommits / collations) so the user
  learns why blind reads would be wrong.
"""

import json as _json
import os as _os

import pytest

from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


def _author_fat_commit_source(tmp_path, name, n_adds):
    """Synthetic metadata-only source: ONE commit carrying n_adds
    zero-record add actions (the 100k-file backfill shape)."""
    path = str(tmp_path / name)
    _os.makedirs(_os.path.join(path, "_delta_log"))
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}}
        ],
    }
    lines = [
        _json.dumps(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        ),
        _json.dumps(
            {
                "metaData": {
                    "id": "synthetic-fat",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps(schema),
                    "partitionColumns": [],
                    "configuration": {},
                    "createdTime": 0,
                }
            }
        ),
    ]
    for i in range(n_adds):
        lines.append(
            _json.dumps(
                {
                    "add": {
                        "path": f"fat_{i:06d}.parquet",
                        "partitionValues": {},
                        "size": 10,
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": '{"numRecords": 0}',
                    }
                }
            )
        )
    with open(
        _os.path.join(path, "_delta_log", f"{0:020d}.json"), "x"
    ) as f:
        f.write("\n".join(lines) + "\n")
    return path


def test_fat_commit_chunking_bounds_driver_items(spark, tmp_path):
    """One 2000-add commit with a 500-item budget drains in >= 4
    path-ordered chunks, never materializing more than the cap (+ the
    staging/schema markers) on the driver in any batch."""
    src = _author_fat_commit_source(tmp_path, "fat_src", 2000)
    p = MirrorPipeline(
        spark,
        src,
        str(tmp_path / "fat_dst"),
        str(tmp_path / "fat_state"),
        table_name="fat",
        max_items_per_batch=500,
    )
    results = p.run_until_idle()
    assert len(results) >= 4
    assert all(r["n_items"] <= 500 + 2 for r in results)
    assert results[-1]["partial"] is False and all(
        r["partial"] for r in results[:-1]
    )
    assert p.run_once()["status"] == "up-to-date"
    adds = p.state.current_items("fat", "Add")
    assert len(adds) == 2000
    assert all(a["state"] in ("Done", "Skipped") for a in adds)


def test_fat_commit_with_data_mirrors_exactly(spark, tmp_path):
    """A real single-commit source (one append planned as 40 files)
    mirrored under a 10-item budget: chunked ingest, target rows ==
    source rows, no duplicates — and one-shot == chunked."""
    src_path = str(tmp_path / "fatd_src")
    src = DeltaSink(spark, src_path)
    src.append(spark.range(400).repartition(40).toDF("id"))  # 1 commit
    p = MirrorPipeline(
        spark,
        src_path,
        str(tmp_path / "fatd_dst"),
        str(tmp_path / "fatd_state"),
        table_name="fatd",
        max_items_per_batch=10,
    )
    results = p.run_until_idle()
    assert len(results) >= 4  # 40 adds / 10 cap
    assert all(r["n_items"] <= 12 for r in results)
    rows = [r["id"] for r in p.mirror_df().select("id").collect()]
    assert sorted(rows) == list(range(400))
    assert p.run_once()["status"] == "up-to-date"


def test_collect_queries_budget(spark):
    """The similarity query side is broadcast — a frame past the
    budget raises instead of OOMing the driver."""
    from mirror_lake_kusto_spark.operators.similarity import (
        _collect_queries,
    )

    df = spark.range(50).selectExpr(
        "id", "array(cast(id as double), 1.0d) AS emb"
    )
    qids, qmat, _ = _collect_queries(df, "id", "emb", max_queries=50)
    assert len(qids) == 50 and qmat.shape == (50, 2)
    with pytest.raises(ValueError, match="exceeds 49"):
        _collect_queries(df, "id", "emb", max_queries=49)


@pytest.mark.parametrize(
    "feature,hint",
    [
        ("catalogManaged", "catalog"),
        ("catalogOwned-preview", "owning catalog"),
        ("coordinatedCommits", "commit coordinator"),
    ],
)
def test_fail_closed_error_names_feature(spark, tmp_path, feature, hint):
    """Unsupported feature reads fail CLOSED with an error that names
    the feature AND says what it changes.  Round 8: the catalog-
    coordination features now serve the BACKFILLED prefix and refuse
    only a visibly-unpublished staged tail (see test_r8_coordinated),
    so those rows stage one to trigger the refusal; the staleness
    error must still carry the feature name and the hint."""
    from mirror_lake_kusto_spark.sources import delta_log as DL

    sink = DeltaSink(spark, str(tmp_path / f"t_{feature}"))
    sink.append(spark.range(3).toDF("id"))
    log = _os.path.join(sink.path, "_delta_log")
    with open(_os.path.join(log, "%020d.json" % 1), "w") as f:
        f.write(
            _json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": [feature],
                    }
                }
            )
            + "\n"
        )
    if feature.removesuffix("-preview") in DL._CATALOG_FEATURES:
        staged = _os.path.join(log, "_commits")
        _os.makedirs(staged, exist_ok=True)
        with open(
            _os.path.join(
                staged, "%020d.%s.json" % (2, "0" * 8 + "-dead-beef")
            ),
            "w",
        ) as f:
            f.write("{}\n")
    with pytest.raises(DL.UnsupportedTableFeature) as ei:
        DL.snapshot_files(spark, sink.path)
    msg = str(ei.value)
    assert feature in msg
    assert hint in msg
