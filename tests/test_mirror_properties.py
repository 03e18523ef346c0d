"""Property-based mirror invariant: for ANY interleaving of source
appends, predicate deletes, and OPTIMIZE churn, the mirror equals the
logical survivor set — and syncing between every operation (two-shot)
equals syncing once at the end (one-shot).  The model is a plain python
set of ids."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


@st.composite
def _ops(draw):
    ops = [("append", 0, 40)]  # always start with data
    hi = 40
    for _ in range(draw(st.integers(1, 3))):
        kind = draw(st.sampled_from(["append", "delete_mod", "optimize"]))
        if kind == "append":
            n = draw(st.integers(5, 30))
            ops.append(("append", hi, hi + n))
            hi += n
        elif kind == "delete_mod":
            ops.append(("delete_mod", draw(st.integers(2, 9)), None))
        else:
            ops.append(("optimize", None, None))
    return ops


def _apply(spark, src, model, op):
    kind, a, b = op
    if kind == "append":
        src.append(spark.range(a, b).toDF("id").coalesce(1))
        model |= set(range(a, b))
    elif kind == "delete_mod":
        src.delete(f"id % {a} = 0")
        model -= {i for i in model if i % a == 0}
    else:
        src.optimize()
    return model


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@given(_ops())
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_mirror_equals_model_any_interleaving(_spark, tmp_path_factory, ops):
    spark = _spark
    base = tmp_path_factory.mktemp("prop")
    one = MirrorPipeline(
        spark, str(base / "s1"), str(base / "d1"), str(base / "st1"),
        table_name="p1",
    )
    two = MirrorPipeline(
        spark, str(base / "s2"), str(base / "d2"), str(base / "st2"),
        table_name="p2",
    )
    src1, src2 = DeltaSink(spark, one.source), DeltaSink(spark, two.source)
    model: set[int] = set()
    for op in ops:
        model = _apply(spark, src1, set(model), op)
        _apply(spark, src2, set(), op)  # same source evolution
        two.run_until_idle()  # two-shot: sync after every op
    one.run_until_idle()  # one-shot: single sync at the end
    got1 = sorted(r["id"] for r in one.mirror_df().collect())
    got2 = sorted(r["id"] for r in two.mirror_df().collect())
    assert got1 == sorted(model)
    assert got2 == sorted(model)
