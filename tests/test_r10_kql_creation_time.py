"""Round-10: ``--creation-time`` accepts the reference's KQL spelling.

The reference's users pass KQL scalar expressions —
``todatetime(strcat(p0,'-01-01'))`` verbatim from
MirrorLakeKustoTest/Electric/ElectricTestBase.cs:12 — while this
engine evaluates Spark SQL (SURVEY §2.J).  The
``creation_time_dialect`` knob ('auto' default / 'spark' / 'kql')
routes the KQL spelling through kql_parse.translate_expr before
F.expr, removing the one guaranteed migration papercut.
"""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink

FIXED_NOW = dt.datetime(2022, 6, 1)
#: the reference's spelling, VERBATIM (ElectricTestBase.cs:12)
KQL_EXPR = "todatetime(strcat(p0,'-01-01'))"
SPARK_EXPR = "to_timestamp(concat(p0, '-01-01'))"


def _mk(spark, tmp_path, name, **kw):
    return MirrorPipeline(
        spark,
        str(tmp_path / f"{name}_src"),
        str(tmp_path / f"{name}_dst"),
        str(tmp_path / f"{name}_state"),
        table_name=name,
        go_back_days=547,
        now_fn=lambda: FIXED_NOW,
        **kw,
    )


def _author(spark, path, n=300):
    src = DeltaSink(spark, path, partition_by=["year"])
    src.append(
        spark.range(n).select(
            F.col("id"), (F.col("id") % 3 + 2020).cast("long").alias("year")
        )
    )
    return src


def _assert_goback(p, spark):
    out = p.mirror_df()
    # cutoff ≈ 2020-12-06: the 2020 partition skipped, 2021/2022 kept
    assert out.filter("year = 2020").count() == 0
    assert out.filter("year = 2021").count() == 100
    assert out.filter("year = 2022").count() == 100


@pytest.mark.parametrize(
    "dialect,expr",
    [
        ("kql", KQL_EXPR),
        ("auto", KQL_EXPR),     # auto detects the KQL spelling
        ("auto", SPARK_EXPR),   # ...and keeps a Spark spelling as-is
        ("spark", SPARK_EXPR),
    ],
)
def test_go_back_matrix_with_both_dialects(spark, tmp_path, dialect, expr):
    p = _mk(
        spark,
        tmp_path,
        f"gb_{dialect}_{'k' if 'strcat' in expr else 's'}",
        creation_time_expr=expr,
        creation_time_dialect=dialect,
    )
    _author(spark, p.source)
    p.run_once()
    _assert_goback(p, spark)


def test_spark_dialect_rejects_kql_spelling(spark, tmp_path):
    """dialect='spark' must NOT silently interpret KQL — the analysis
    error surfaces (no second-guessing an explicit dialect)."""
    p = _mk(
        spark,
        tmp_path,
        "gb_strict",
        creation_time_expr=KQL_EXPR,
        creation_time_dialect="spark",
    )
    _author(spark, p.source)
    with pytest.raises(Exception, match="todatetime|UNRESOLVED"):
        p.run_once()


def test_bogus_dialect_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="creation_time_dialect"):
        _mk(
            spark,
            tmp_path,
            "gb_bogus",
            creation_time_expr=KQL_EXPR,
            creation_time_dialect="kusto",
        )


def test_auto_surfaces_error_when_neither_dialect_parses(spark, tmp_path):
    p = _mk(
        spark,
        tmp_path,
        "gb_broken",
        creation_time_expr="not a ( valid expr",
        creation_time_dialect="auto",
    )
    _author(spark, p.source)
    with pytest.raises(Exception):
        p.run_once()


def test_kql_datetime_scalars_translate(spark, tmp_path):
    """Other KQL creation-time idioms work through the same seam:
    make_datetime over two partition columns."""
    src_path = str(tmp_path / "md_src")
    src = DeltaSink(spark, src_path, partition_by=["y", "m"])
    src.append(
        spark.range(40).select(
            "id",
            (F.col("id") % 2 + 2021).cast("long").alias("y"),
            (F.col("id") % 2 * 11 + 1).cast("long").alias("m"),
        )
    )
    p = MirrorPipeline(
        spark,
        src_path,
        str(tmp_path / "md_dst"),
        str(tmp_path / "md_state"),
        table_name="md",
        go_back_days=300,
        now_fn=lambda: dt.datetime(2022, 6, 1),
        creation_time_expr="make_datetime(toint(p0), toint(p1), 1)",
        creation_time_dialect="kql",
    )
    p.run_once()
    out = p.mirror_df()
    # (2021, 1) -> 2021-01-01 predates 2022-06-01 - 300d (~2021-08-09):
    # skipped; (2022, 12)... y=2022,m=12 -> 2022-12-01 kept
    assert out.filter("y = 2021").count() == 0
    assert out.filter("y = 2022").count() == 20
