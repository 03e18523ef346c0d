"""The benchmark's workloads.

Each workload is a closed loop with one client: ``prepare`` makes the
op's input (untimed), ``run`` is the op the latency covers, and
``check`` compares the program's output with a model the benchmark
keeps itself.  The program sees only the generated inputs.
"""

from __future__ import annotations

import os
from contextlib import nullcontext

import numpy as np
import pandas as pd

import datagen

# one op per kind in this order, repeated: appends are 60% so the median
# sits inside the append mode, and every prefix of the cycle keeps the
# mix close to 60/20/20
SYNC_CYCLE = ["append", "delete_dv", "append", "append", "delete"]

# a fixed subset of bench.py's TPC-H and KQL headline lists: a full pass
# over all 53 takes 45-60 s on 4 cores, more than one run can afford
QUERY_SET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q13_customer_distribution",
    "kql_summarize_pipeline",
    "kql_top_nested_others",
    "kql_sliding_window_counts",
    "kql_geo_geohash",
]

SOURCE_COLS = [f.name for f in datagen.LINEITEM_SCHEMA]


def dir_files(path: str) -> dict[str, int]:
    """``{file: size}`` under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def bytes_added(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that are new, or grew, between two listings."""
    return sum(max(0, s - before.get(p, 0)) for p, s in after.items())


def data_bytes(files: dict[str, int]) -> dict[str, int]:
    return {
        p: s
        for p, s in files.items()
        if p.endswith(".parquet") and "_delta_log" not in p
    }


def row_fingerprint(df: pd.DataFrame, cols: list[str]) -> np.ndarray:
    """Sorted per-row hashes: equal arrays mean equal row multisets."""
    norm = pd.DataFrame(index=range(len(df)))
    for c in cols:
        s = df[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        norm[c] = s
    return np.sort(pd.util.hash_pandas_object(norm, index=False).to_numpy())


class Workload:
    #: filesystem dirs the program writes; their growth is write_amp's
    #: numerator
    written_dirs: list[str] = []
    #: ops per round, and a round's nominal wall time (authoring
    #: included) on a 4-core host.  A run times round(seconds / round_s)
    #: whole rounds: the same ops on every run, however fast the host
    round_len = 1
    round_s = 1.0

    def __init__(self, spark, work: str, seed: int, tracer=None) -> None:
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer

    def span(self, name: str, layer: str):
        """A span of the benchmark's own, recorded only in a traced op."""
        if self.tracer is None or self.tracer.op is None:
            return nullcontext()
        return self.tracer.span(name, layer)

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> dict:
        """Untimed input for op ``i``: returns ``rows`` (rows the op
        makes visible) and, for mirror workloads, ``source_bytes`` (data
        bytes it must mirror)."""
        raise NotImplementedError

    def run(self, i: int, info: dict) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Names of the correctness checks that failed."""
        raise NotImplementedError

    def checks_attempted(self) -> int:
        raise NotImplementedError


class SyncSmallCommits(Workload):
    """Each op authors one small commit to a partitioned Delta source,
    then times ``MirrorPipeline.run_until_idle`` over it."""

    ORDERS_PER_APPEND = 2000
    N_PART, N_SUPP = 20_000, 1_000
    round_len = len(SYNC_CYCLE)
    round_s = 10.0

    def __init__(self, spark, work, seed, tracer=None) -> None:
        super().__init__(spark, work, seed, tracer)
        self.src_path = os.path.join(work, "src")
        self.dst_path = os.path.join(work, "dst")
        self.state_path = os.path.join(work, "state")
        self.written_dirs = [self.dst_path, self.state_path]

    def _append(self) -> int:
        tbl = datagen.lineitem(
            self.rng, self.next_order, self.ORDERS_PER_APPEND, self.N_PART, self.N_SUPP
        )
        self.slices.append((self.next_order, self.next_order + self.ORDERS_PER_APPEND - 1))
        self.next_order += self.ORDERS_PER_APPEND
        pdf = tbl.to_pandas()
        self.src.append(self.spark.createDataFrame(pdf).coalesce(1))
        self.model = pdf if self.model is None else pd.concat([self.model, pdf], ignore_index=True)
        return len(pdf)

    def _delete(self, kind: str) -> int:
        # a copy-on-write delete refuses a table with deletion vectors;
        # purge them first, as a Delta writer mixing both modes must
        if kind == "delete" and self.has_dv:
            self.src.reorg()
            self.has_dv = False
        # the newest slice: its rows were never deleted, so the commit
        # always changes rows (the two kinds take disjoint quantities)
        lo, hi = self.slices[-1]
        q = int(self.rng.integers(5, 15))
        if kind == "delete":
            pred = f"l_orderkey BETWEEN {lo} AND {hi} AND l_quantity <= {q}"
            mask = self.model.l_quantity <= q
        else:
            pred = f"l_orderkey BETWEEN {lo} AND {hi} AND l_quantity >= {51 - q}"
            mask = self.model.l_quantity >= 51 - q
        mask &= self.model.l_orderkey.between(lo, hi)
        getattr(self.src, kind)(pred)
        self.has_dv |= kind == "delete_dv"
        self.model = self.model[~mask]
        return int(mask.sum())

    def setup(self) -> None:
        from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
        from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink

        self.src = DeltaSink(self.spark, self.src_path, partition_by=["l_returnflag"])
        self.model: pd.DataFrame | None = None
        self.slices: list[tuple[int, int]] = []
        self.next_order = 0
        self.has_dv = False
        self.pipe = MirrorPipeline(
            self.spark,
            self.src_path,
            self.dst_path,
            self.state_path,
            table_name="lineitem",
            on_dv="materialize",
        )
        # warm-up: the first op of each kind pays JIT, codegen and Python
        # worker start-up that later ops do not.  Three batches here put
        # the state compaction (every 8th batch) on the first timed
        # delete, not on an append that would set the median
        for kind in ("append", "delete_dv", "delete"):
            self._append() if kind == "append" else self._delete(kind)
            self.pipe.run_until_idle()

    def prepare(self, i: int) -> dict:
        kind = SYNC_CYCLE[i % len(SYNC_CYCLE)]
        before = data_bytes(dir_files(self.src_path))
        rows = self._append() if kind == "append" else self._delete(kind)
        after = data_bytes(dir_files(self.src_path))
        return {"kind": kind, "rows": rows, "source_bytes": bytes_added(before, after)}

    def run(self, i: int, info: dict) -> None:
        self.pipe.run_until_idle()

    def checks_attempted(self) -> int:
        return 2

    def check(self) -> list[str]:
        from mirror_lake_kusto_spark.pipeline.state import COMPLETE_STATES

        failed = []
        target = self.pipe.mirror_df().select(*SOURCE_COLS).toPandas()
        if not np.array_equal(
            row_fingerprint(target, SOURCE_COLS), row_fingerprint(self.model, SOURCE_COLS)
        ):
            failed.append("target_equals_source")
        items = self.pipe.state.current_items(self.pipe.table)
        if not items or any(it["state"] not in COMPLETE_STATES for it in items):
            failed.append("state_all_terminal")
        return failed


class QueryMix(Workload):
    """Each op builds one query's DataFrame and runs it to a ``noop``
    write.  Setup runs every query once, collecting its result and
    comparing it with the DuckDB oracle (the correctness check), then
    once more as an op (the warm-up)."""

    SF = 0.01
    round_s = 6.0
    DV_QUERY = "kql_delta_dv"
    # KQL over a Delta table with deletion vectors, so the read side of
    # the log (read_snapshot, DV application) is in the mix too
    DV_PREDICATE = "l_quantity >= 45 OR l_discount = 0.0"
    DV_KQL = (
        "T | where l_quantity > 10 "
        "| summarize n = count(), qty = sum(l_quantity) by l_returnflag, l_linestatus"
    )
    DV_ORACLE = (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty "
        "FROM lineitem WHERE NOT (l_quantity >= 45 OR l_discount = 0.0) "
        "AND l_quantity > 10 GROUP BY 1, 2"
    )

    def __init__(self, spark, work, seed, tracer=None) -> None:
        super().__init__(spark, work, seed, tracer)
        self.data_dir = os.path.join(work, "data")
        self.delta_path = os.path.join(work, "lineitem_delta")
        self.seed = seed

    def _build(self, name: str):
        if name == self.DV_QUERY:
            from mirror_lake_kusto_spark.functions.kql_parse import kql
            from mirror_lake_kusto_spark.sources import delta_log as DL

            return kql(self.spark, self.DV_KQL, {"T": DL.read_snapshot(self.spark, self.delta_path)})
        return self.registry[name].fn(self.spark, self.data_dir)

    def setup(self) -> None:
        import duckdb

        from mirror_lake_kusto_spark.queries import all_queries
        from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink

        datagen.write_tables(self.seed, self.SF, self.data_dir)
        self.registry = all_queries()
        sink = DeltaSink(self.spark, self.delta_path)
        sink.append(self.spark.read.parquet(os.path.join(self.data_dir, "lineitem.parquet")))
        sink.delete_dv(self.DV_PREDICATE)
        con = duckdb.connect()
        try:
            for t in datagen.TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.data_dir, t)}.parquet')"
                )
            self.names = QUERY_SET + [self.DV_QUERY]
            self.result_rows: dict[str, int] = {}
            self.failed_checks = []
            for name in self.names:
                df = self._build(name)
                rows = df.collect()
                oracle = self.DV_ORACLE if name == self.DV_QUERY else self.registry[name].oracle
                cur = con.execute(oracle)
                ocols = [d[0] for d in cur.description]
                if not results_match(df.columns, [list(r) for r in rows], ocols, cur.fetchall()):
                    self.failed_checks.append(name)
                self.result_rows[name] = len(rows)
        finally:
            con.close()
        # after the checks alone, the first timed pass still used 15-20%
        # more CPU than the later ones
        for name in self.names:
            self.run(-1, {"query": name})
        self.round_len = len(self.names)
        self.order: list[str] = []

    def prepare(self, i: int) -> dict:
        if not self.order:
            # a round is one pass over the query set, in a fresh seeded order
            self.order = list(self.rng.permutation(self.names))
        name = self.order.pop()
        return {"query": name, "rows": self.result_rows[name]}

    def run(self, i: int, info: dict) -> None:
        with self.span("queries.plan", "queries"):
            df = self._build(info["query"])
        with self.span("queries.exec", "queries"):
            df.write.format("noop").mode("overwrite").save()

    def checks_attempted(self) -> int:
        return len(self.names)

    def check(self) -> list[str]:
        return self.failed_checks


def _norm_cell(v) -> str:
    if v is None:
        return "\0"
    if isinstance(v, float):
        return "nan" if v != v else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def results_match(cols, rows, ocols, orows) -> bool:
    """Same column names and the same multiset of rows, compared cell by
    cell as text (floats by ``repr``, so both sides must round alike)."""
    if sorted(cols) != sorted(ocols) or len(rows) != len(orows):
        return False

    def lines(cs, rs):
        order = sorted(range(len(cs)), key=lambda k: cs[k])
        return sorted("\x01".join(_norm_cell(r[k]) for k in order) for r in rs)

    return lines(cols, rows) == lines(ocols, orows)


WORKLOADS = {
    "sync_small_commits": SyncSmallCommits,
    "query_mix": QueryMix,
}
