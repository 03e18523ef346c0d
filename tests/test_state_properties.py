"""Property-based check of the state store's last-writer-wins semantics
(D3/D4/O10): any sequence of persist / compact / rehydrate operations
must behave exactly like a dict keyed on the item identity.

Reads go through the driver LWW map (the Spark status_df twin is
asserted equal in test_mirror.py::test_state_view_arg_max); hypothesis
drives the sequencing, a plain dict is the model."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mirror_lake_kusto_spark.pipeline.delta_state import DeltaStateStore
from mirror_lake_kusto_spark.pipeline.state import KEY

_TABLES = ("t1", "t2")
_ACTIONS = ("Schema", "StagingTable", "Add", "Remove")
_STATES = ("Initial", "Analyzed", "Skipped", "Staged", "Done")


def _item(draw):
    return {
        "table_name": draw(st.sampled_from(_TABLES)),
        "start_tx_id": draw(st.integers(0, 3)),
        "end_tx_id": draw(st.integers(0, 3)),
        "action": draw(st.sampled_from(_ACTIONS)),
        "state": draw(st.sampled_from(_STATES)),
        "mirror_timestamp": "2026-01-01T00:00:00",
        "delta_timestamp": None,
        "blob_path": draw(
            st.one_of(st.none(), st.sampled_from(["a.parquet", "b=1/c.parquet"]))
        ),
        "partition_values": draw(
            st.one_of(st.none(), st.just('{"y":"2020"}'))
        ),
        "size": draw(st.one_of(st.none(), st.integers(0, 10**12))),
        "record_count": draw(st.one_of(st.none(), st.integers(0, 10**9))),
        "partition_columns": None,
        "schema": draw(st.one_of(st.none(), st.just('{"type":"struct"}'))),
        "internal_state": None,
    }


@st.composite
def _ops(draw):
    n = draw(st.integers(1, 8))
    ops = []
    for _ in range(n):
        kind = draw(st.sampled_from(["persist", "persist", "persist", "compact", "reopen"]))
        if kind == "persist":
            ops.append(("persist", [_item(draw) for _ in range(draw(st.integers(1, 4)))]))
        else:
            ops.append((kind, None))
    return ops


@given(_ops())
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_state_store_is_lww_dict(spark, tmp_path_factory, ops):
    tmp = tmp_path_factory.mktemp("state_prop")
    store = DeltaStateStore(spark, str(tmp))
    model: dict[tuple, dict] = {}
    for kind, items in ops:
        if kind == "persist":
            store.persist(items)
            for it in items:
                model[tuple(it.get(k) for k in KEY)] = dict(it)
        elif kind == "compact":
            store.compact()
        else:  # reopen: fresh instance must rehydrate identically
            store = DeltaStateStore(spark, str(tmp))
    got = {tuple(it.get(k) for k in KEY): it for it in store.current_items()}
    assert got == model
    # durability: a fresh store after everything sees the same view
    fresh = DeltaStateStore(spark, str(tmp))
    assert {tuple(i.get(k) for k in KEY): i for i in fresh.current_items()} == model
