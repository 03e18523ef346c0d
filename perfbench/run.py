"""Benchmark entry point: one workload, one closed loop, one client.

    python3 perfbench/run.py --workload sync_small_commits --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout of the repository.  It starts one
Spark driver on ``local[nproc]``, generates the workload's inputs from
``--seed``, sets up and warms up, runs ``--seconds`` worth of ops (a
fixed number of whole rounds per workload, so every run times the same
ops), checks the program's outputs, and prints one JSON line of detail
followed by the result line: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``.  Everything it writes goes under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (traces).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) at the highest percentile
    with at least ten samples beyond it; the maximum when there are
    eleven samples or fewer."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, 0
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n, n - 1 - k


def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    return 100.0 * d[7] / (sum(d) or 1) if len(d) > 7 else 0.0


def host_stamp() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "loadavg": os.getloadavg(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, int]]:
    """``{pid: (ppid, cpu_ticks)}`` for every live process, where
    ``cpu_ticks`` is its user and system time plus that of its reaped
    children."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(roots: set[int], table: dict[int, tuple[int, int]]) -> set[int]:
    """``roots`` and every process below them."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), list(roots)
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds this process and its descendants (the driver JVM and
    the Python workers it forks) have used so far.  Time the hypervisor
    stole, and time spent waiting for a CPU, is not in it."""
    table = proc_table()
    return sum(table[p][1] for p in descendants({os.getpid()}, table)) / CLK_TCK


class RssSampler(threading.Thread):
    """Peak resident memory of this process and every descendant (the
    driver JVM and the Python workers it forks).  Each process counts
    its proportional set size, so pages that forked Python workers share
    with their parent count once.  ``cpu_s`` is the CPU time sampling has
    cost so far, for op figures to leave out."""

    def __init__(self, interval: float = 1.0) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.cpu_s = 0.0
        self._halt = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in descendants({os.getpid()}, proc_table()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            t0 = time.thread_time()
            self.sample()
            self.cpu_s += time.thread_time() - t0

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


def configure_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, size the
    driver to the host and put the package on the workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers are forked by the JVM and import the package by
    # name; without this they fail outside the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    # a quarter of RAM, at most 4g: the inputs are small, and the host
    # is shared
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(mem_gb / 4)))}g"


def start_spark(work: str, nproc: int):
    from mirror_lake_kusto_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        cpus=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # C1 only: with C2 on, compiler threads used about 40 s of
            # CPU in a 50 s run on 4 cores, competing with the work, so
            # timings rode on how far compilation had got and on what
            # else the host ran.  C1 alone compiles in about 4 s, and op
            # latencies are no higher.  The serial collector sizes the
            # heap from the live data; G1 sizes it from pause times,
            # which ride on the host's load, and peak memory swung by
            # 15% between runs with it
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM (and
    with it the Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(ok_ops: list[dict], loop_s: float, loop_cpu_s: float, setup_s: float,
               setup_cpu_s: float, write_amp: float,
               peak_rss_mb: float) -> tuple[dict, dict, dict]:
    """(result metrics, wall-clock figures, how the tail was taken).

    The result measures set-up and ops by the CPU time the engine
    spends on them.  Wall time on this shared host rides on its
    neighbours: at 4.6% steal the median sync op took 38% longer while
    its CPU time rose 10%.  The wall-clock figures go to the detail
    line."""
    cpu = [o["cpu_s"] for o in ok_ops]
    lat = [o["latency_s"] for o in ok_ops]
    rows = sum(o["rows"] for o in ok_ops)
    cpu_tail, pct, beyond = tail_percentile(cpu)
    metrics = {
        "setup_s": setup_cpu_s,
        "op_cpu_p50_s": statistics.median(cpu),
        "op_cpu_tail_s": cpu_tail,
        "ops_per_cpu_s": len(cpu) / loop_cpu_s,
        "rows_per_cpu_s": rows / sum(cpu),
        "write_amp": write_amp,
        "peak_rss_mb": peak_rss_mb,
    }
    wall = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_percentile(lat)[0],
        "ops_per_s": len(lat) / loop_s,
        "rows_per_s": rows / sum(lat),
    }
    tail = {"op_samples": len(cpu), "op_tail_percentile": pct, "op_tail_samples_beyond": beyond}
    return metrics, wall, tail


UNITS = {
    "setup_s": "s",
    "op_cpu_p50_s": "s",
    "op_cpu_tail_s": "s",
    "ops_per_cpu_s": "1/s",
    "rows_per_cpu_s": "rows/s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_added") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("task_skew"):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import mirror_lake_kusto_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import layers
    import workloads
    from spans import Tracer, install

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    configure_env(work)
    nproc = len(os.sched_getaffinity(0))
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        spark = start_spark(work, nproc)
        from collector import StatusStore, executor_totals

        tracer = Tracer() if args.trace else None
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        w.setup()
        if tracer is not None:
            install(tracer)
        setup_s = time.perf_counter() - t_start
        setup_cpu_s = tree_cpu_s() - rss.cpu_s
        store = StatusStore(spark)
        store.drain()
        first_job = store.next_job_id()

        ops: list[dict] = []
        stat0 = cpu_jiffies()
        exec0 = executor_totals(spark)
        t_loop = time.perf_counter()
        cpu_loop = tree_cpu_s() - rss.cpu_s
        failures_in_row = 0
        # the most whole rounds that fit in --seconds at the nominal pace
        n_ops = max(1, int(args.seconds / w.round_s)) * w.round_len
        for i in range(n_ops):
            op = {"i": i, "ok": False, "rows": 0, "source_bytes": 0, "written": {}}
            try:
                t_prep = time.perf_counter()
                op.update(w.prepare(i))
                op["prepare_s"] = time.perf_counter() - t_prep
                before = {d: workloads.dir_files(d) for d in w.written_dirs}
                c0 = tree_cpu_s() - rss.cpu_s
                t0 = time.perf_counter()
                if tracer is not None:
                    with tracer.op_span(i, f"op.{args.workload}"):
                        w.run(i, op)
                else:
                    w.run(i, op)
                op["latency_s"] = time.perf_counter() - t0
                op["cpu_s"] = tree_cpu_s() - rss.cpu_s - c0
                op["written"] = {
                    d: workloads.bytes_added(before[d], workloads.dir_files(d))
                    for d in w.written_dirs
                }
                op["ok"] = True
                failures_in_row = 0
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                traceback.print_exc()
                failures_in_row += 1
            ops.append(op)
            if failures_in_row >= 3:
                break
        loop_s = time.perf_counter() - t_loop
        loop_cpu_s = tree_cpu_s() - rss.cpu_s - cpu_loop
        stat1 = cpu_jiffies()
        exec1 = executor_totals(spark)

        checks_failed = w.check()
        ok_ops = [o for o in ops if o["ok"]]
        if w.written_dirs:
            written = sum(sum(o["written"].values()) for o in ok_ops)
            write_amp = written / max(1, sum(o["source_bytes"] for o in ok_ops))
        else:
            # queries write nothing to the lake: bytes the engine writes
            # to disk (shuffle) per byte its scans read
            write_amp = (exec1["shuffle_write_bytes"] - exec0["shuffle_write_bytes"]) / max(
                1, exec1["input_bytes"] - exec0["input_bytes"]
            )
        per_layer = None
        if tracer is not None:
            store.drain()
            jobs = store.jobs_from(first_job)
            per_layer = layers.per_layer(tracer.spans, jobs, ok_ops, w)
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            layers.write_trace(path, tracer.spans, jobs)
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if not ok_ops:
        print("perfbench: no op succeeded", file=sys.stderr)
        return 1
    e2e, wall, tail_info = end_to_end(
        ok_ops, loop_s, loop_cpu_s, setup_s, setup_cpu_s, write_amp, rss.peak_bytes / 2**20
    )
    attempted = len(ops) + w.checks_attempted()
    failed = len(ops) - len(ok_ops) + len(checks_failed)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {**host_stamp(), "steal_pct": steal_pct(stat0, stat1)},
        "end_to_end": {**e2e, "ops_failed_frac": failed / attempted},
        "wall": wall,
        "tail": tail_info,
        "checks_failed": checks_failed,
        "ops": [
            {k: o.get(k) for k in ("kind", "query", "prepare_s", "latency_s", "cpu_s", "ok") if k in o}
            for o in ops
        ],
        "per_layer": per_layer,
    }
    print(json.dumps(detail))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in UNITS.items()}
    print(json.dumps({
        "correct": not checks_failed and len(ok_ops) == len(ops),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
