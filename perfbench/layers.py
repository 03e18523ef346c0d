"""Per-layer metrics of a traced run, from its spans and Spark jobs.

Every metric is per op, except ratios.  ``calls`` counts calls into a
layer from outside it; ``busy_s`` is the wall time covered by the
layer's spans (nested and concurrent spans counted once).  A Spark job
belongs to the innermost span open when it was submitted, and to every
layer on that span's ancestor chain.
"""

from __future__ import annotations

import json
from dataclasses import asdict

from collector import Job, summarize
from spans import Span, ancestors, children_of, outermost_in_layer, self_time, union_length

# clock skew allowance between the JVM's millisecond job timestamps and
# Python's span timestamps
_TOLERANCE_S = 0.002

# the log entry points the workloads reach: the mirror's discovery takes
# the driver-local segment path (coalesced_segment_local), never the
# DataFrame one (coalesced_segment, file_actions)
LOG_FUNCTIONS = (
    "list_commit_versions",
    "coalesced_segment_local",
    "snapshot_files",
    "latest_metadata",
    "read_snapshot",
)


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, int | None]:
    """job id -> index of the innermost span open at its submission."""
    depth: list[int] = []
    for i, sp in enumerate(spans):
        depth.append(0 if sp.parent is None else depth[sp.parent] + 1)
    by_op: dict[int, list[int]] = {}
    for i, sp in enumerate(spans):
        by_op.setdefault(sp.op, []).append(i)
    roots = [i for i, sp in enumerate(spans) if sp.layer == "op"]
    owner: dict[int, int | None] = {}
    for job in jobs:
        t = job.submit
        best = None
        for r in roots:
            if spans[r].start - _TOLERANCE_S <= t <= spans[r].end + _TOLERANCE_S:
                for i in by_op[spans[r].op]:
                    sp = spans[i]
                    if sp.end is not None and sp.start - _TOLERANCE_S <= t <= sp.end + _TOLERANCE_S:
                        if best is None or depth[i] > depth[best]:
                            best = i
                break
        owner[job.job_id] = best
    return owner


def _busy(spans: list[Span], pred) -> float:
    return union_length([(sp.start, sp.end) for sp in spans if sp.end is not None and pred(sp)])


def per_layer(spans: list[Span], jobs: list[Job], ops: list[dict], workload) -> dict[str, float]:
    n = max(1, sum(1 for sp in spans if sp.layer == "op"))
    owner = attribute(spans, jobs)

    def layers_of(job: Job) -> set[str]:
        i = owner[job.job_id]
        if i is None:
            return set()
        return {spans[i].layer} | {spans[a].layer for a in ancestors(spans, i)}

    def jobs_in(layer: str) -> list[Job]:
        return [j for j in jobs if layer in layers_of(j)]

    m: dict[str, float] = {}
    for layer in ("delta_log", "delta_sink", "state", "kql_parse"):
        m[f"{layer}.calls"] = len(outermost_in_layer(spans, layer)) / n
        m[f"{layer}.busy_s"] = _busy(spans, lambda sp, l=layer: sp.layer == l) / n
    for fn in LOG_FUNCTIONS:
        m[f"delta_log.{fn}.busy_s"] = _busy(spans, lambda sp, f=fn: sp.name == f"delta_log.{f}") / n

    commits = [sp for sp in spans if sp.name == "delta_sink._commit"]
    m["delta_sink.commits"] = len(commits) / n
    m["delta_sink.files_added"] = sum(sp.attrs.get("files_added", 0) for sp in commits) / n
    m["delta_sink.bytes_added"] = sum(sp.attrs.get("bytes_added", 0) for sp in commits) / n
    m["delta_sink.jobs_per_commit"] = len(jobs_in("delta_sink")) / max(1, len(commits))

    state_dir = getattr(workload, "state_path", None)
    m["state.bytes_written"] = sum(o["written"].get(state_dir, 0) for o in ops) / n

    kids = children_of(spans)
    run_once = [i for i, sp in enumerate(spans) if sp.name == "orchestrate.run_once"]
    m["orchestrate.run_once_calls"] = len(run_once) / n
    m["orchestrate.busy_s"] = _busy(spans, lambda sp: sp.name == "orchestrate.run_once") / n
    m["orchestrate.self_s"] = sum(
        self_time(
            (spans[i].start, spans[i].end),
            [(spans[c].start, spans[c].end) for c in kids.get(i, []) if spans[c].end is not None],
        )
        for i in run_once
    ) / n
    m["orchestrate.jobs_per_op"] = len(jobs_in("orchestrate")) / n

    m["queries.plan_s"] = _busy(spans, lambda sp: sp.name == "queries.plan") / n
    m["queries.exec_s"] = _busy(spans, lambda sp: sp.name == "queries.exec") / n

    op_jobs = [j for j in jobs if owner[j.job_id] is not None]
    s = summarize(op_jobs)
    for k in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes"):
        m[f"spark.{k}"] = s[k] / n
    m["spark.task_skew"] = s["task_skew"]
    driver_only = 0.0
    for sp in spans:
        if sp.layer != "op":
            continue
        in_op = [(j.submit, j.complete) for j in op_jobs if spans[owner[j.job_id]].op == sp.op]
        driver_only += self_time((sp.start, sp.end), in_op)
    m["spark.driver_only_s"] = driver_only / n
    return m


def write_trace(path: str, spans: list[Span], jobs: list[Job]) -> None:
    owner = attribute(spans, jobs)
    with open(path, "w") as f:
        json.dump(
            {
                "spans": [asdict(sp) for sp in spans],
                "jobs": [{**asdict(j), "span": owner[j.job_id]} for j in jobs],
            },
            f,
        )
