"""``tables.read_parquet``: a repeat read of unchanged parquet files
replays the inferred schema and submits no Spark job."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType, TimestampType

from mirror_lake_kusto_spark.sources.tables import load_table, read_parquet
from tests.conftest import SF_DIR

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark) -> set[int]:
    """Ids of every job the driver has finished so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _new_jobs(spark, build):
    """``build()``'s frame, and how many jobs building it and reading
    its schema submitted."""
    before = _jobs(spark)
    df = build()
    df.schema
    return df, len(_jobs(spark) - before)


def _copy_fixture(tmp_path, *names) -> str:
    for n in names:
        shutil.copy(os.path.join(SF_DIR, f"{n}.parquet"), tmp_path / f"{n}.parquet")
    return str(tmp_path)


def test_warm_load_submits_no_job(spark, tmp_path):
    d = _copy_fixture(tmp_path, "orders")
    cold, cold_jobs = _new_jobs(spark, lambda: load_table(spark, "orders", d))
    warm, warm_jobs = _new_jobs(spark, lambda: load_table(spark, "orders", d))
    assert cold_jobs >= 1  # the inference job the cache removes
    assert warm_jobs == 0
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), p)
    assert read_parquet(spark, p).columns == ["a"]
    st = os.stat(p)
    pq.write_table(pa.table({"b": pa.array(["x"]), "c": pa.array([1.5])}), p)
    os.utime(p, (st.st_atime, st.st_mtime + 10))
    df, jobs = _new_jobs(spark, lambda: read_parquet(spark, p))
    assert jobs >= 1
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_nanos_conf_is_part_of_the_key(spark, tmp_path):
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}), tmp_path / "events.parquet")
    p = str(tmp_path / "events.parquet")
    prev = spark.conf.get(NANOS, None)
    try:
        ev = load_table(spark, "events", str(tmp_path))
        assert isinstance(ev.schema["ts"].dataType, TimestampType)
        assert isinstance(read_parquet(spark, p).schema["ts"].dataType, LongType)
        _, warm_jobs = _new_jobs(spark, lambda: load_table(spark, "events", str(tmp_path)))
        assert warm_jobs == 0
        # with the conf off Spark rejects TIMESTAMP(NANOS) at inference:
        # the cached LongType schema must not be replayed
        spark.conf.set(NANOS, "false")
        with pytest.raises(AnalysisException):
            read_parquet(spark, p).schema
        _, back_jobs = _new_jobs(spark, lambda: load_table(spark, "events", str(tmp_path)))
        assert back_jobs == 0
    finally:
        if prev is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, prev)


def test_directory_dataset_reads(spark, tmp_path):
    d = str(tmp_path / "dir")
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(d)
    for _ in range(2):
        df = read_parquet(spark, d)
        assert sorted(df.columns) == ["id", "k"]
        assert sorted(r.id for r in df.collect()) == list(range(6))


def test_self_join_of_two_loads_resolves(spark, tmp_path):
    d = _copy_fixture(tmp_path, "orders")
    a = load_table(spark, "orders", d)
    b = load_table(spark, "orders", d)
    n = a.count()
    assert a.join(b, a.o_orderkey == b.o_orderkey).count() == n
    assert a.alias("x").join(b.alias("y"), "o_orderkey").select("x.o_custkey").count() == n


def test_vanilla_session(tmp_path):
    """The driver runs the package on its own, untuned session."""
    d = _copy_fixture(tmp_path, "orders", "events")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        from mirror_lake_kusto_spark.sources.tables import load_table
        spark = SparkSession.builder.master("local[1]").getOrCreate()
        sc = spark.sparkContext

        def jobs():
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            return set(sc.statusTracker().getJobIdsForGroup(None))

        for name in ("orders", "events"):
            cold = load_table(spark, name, {d!r})
            rows = sorted(cold.collect())
            before = jobs()
            warm = load_table(spark, name, {d!r})
            assert warm.schema == cold.schema, name
            assert not jobs() - before, name
            assert sorted(warm.collect()) == rows, name
        print("ok")
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_")}
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "ok"
