"""Per-layer metrics of one traced pass.

Inputs are the pass's spans (the benchmark's operation spans and, while
instrumentation is installed, ``call:<layer>.<fn>`` spans), the Spark
jobs and stages submitted during the pass, streaming progress and the
Python workers' CPU time. Jobs and stages belong to the span whose wall
window holds their submission time.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench.trace import Span
from perfbench.workloads import OpResult, orc_footprint


@dataclass
class PassRecord:
    index: int
    traced: bool
    wall: float
    ops: list[OpResult]
    spans: list[Span]
    span_base: int  # global index of spans[0]
    jobs: list[dict]
    stages: list[dict]
    steal: float = 0.0  # host CPU steal share during the pass
    py_cpu_s: float = 0.0
    streams: dict[str, list[dict]] = field(default_factory=dict)  # query -> progress
    metrics: dict[str, float] | None = None  # per-layer values of a traced pass


def _in(t_ms, windows) -> bool:
    return t_ms is not None and any(a <= t_ms / 1000.0 <= b for a, b in windows)


def _union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class PassView:
    """Lookups over one pass: operation spans and their phase children."""

    def __init__(self, rec: PassRecord):
        self.rec = rec
        base = rec.span_base
        self.children: dict[int, list[Span]] = {}
        for sp in rec.spans:
            self.children.setdefault(sp.parent - base, []).append(sp)
        self.op_spans = {
            sp.name: i for i, sp in enumerate(rec.spans) if "kind" in sp.attrs
        }

    def phase(self, op: str, phase: str) -> Span | None:
        i = self.op_spans.get(op)
        if i is None:
            return None
        return next((c for c in self.children.get(i, []) if c.name == phase), None)

    def phase_windows(self, phase: str, ops=None) -> list[tuple[float, float]]:
        out = []
        for r in self.rec.ops:
            if r.kind == "query" and (ops is None or r.name in ops):
                sp = self.phase(r.name, phase)
                if sp is not None:
                    out.append((sp.start, sp.end))
        return out

    def jobs_in(self, windows) -> list[dict]:
        return [j for j in self.rec.jobs if _in(j.get("submissionTime"), windows)]

    def stages_in(self, windows) -> list[dict]:
        return [s for s in self.rec.stages if _in(s.get("submissionTime"), windows)]

    def calls(self, *names: str) -> float:
        return sum(sp.dur for sp in self.rec.spans if sp.name in names)


def construct_jobs(view: PassView) -> dict[str, int]:
    """Jobs each query submitted while its query function ran."""
    return {
        r.name: len(view.jobs_in(view.phase_windows("construct", {r.name})))
        for r in view.rec.ops
        if r.kind == "query"
    }


def _tasks(stages) -> int:
    return sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages)


def pass_metrics(rec: PassRecord, cores: int, all_queries: tuple[str, ...]) -> dict[str, float]:
    v = PassView(rec)
    ops = rec.ops
    m: dict[str, float] = {}

    load = next((sp for sp in rec.spans if sp.name == "tables.load"), None)
    m["tables.load_s"] = load.dur if load else 0.0
    m["schema.infer_s"] = sum(sp.dur for sp in rec.spans if sp.name.startswith("call:schema."))
    m["schema.rows_inferred"] = sum(r.rows for r in ops if r.kind == "infer" and r.ok)

    writes = [r for r in ops if r.kind == "write" and r.ok]
    reads = [r for r in ops if r.kind == "read" and r.ok]
    m["io.write_s"] = v.calls("call:io.write_orc", "call:io.write_rows")
    m["io.rows_written"] = sum(r.rows for r in writes)
    footprint = {r.name: orc_footprint(r.path) for r in writes}
    m["io.bytes_written"] = sum(b for b, _, _ in footprint.values())
    m["io.files_written"] = sum(f for _, f, _ in footprint.values())
    m["io.stripes_written"] = sum(s for _, _, s in footprint.values())
    m["io.read_s"] = v.calls("call:io.read_orc", "call:io.read_frame")
    m["io.rows_read"] = sum(r.rows for r in reads)
    pruned = next((r for r in reads if r.name == "read_orc_pruned"), None)
    if pruned is not None and pruned.rows:
        sp = v.rec.spans[v.op_spans[pruned.name]]
        scanned = sum(s["inputRecords"] for s in v.stages_in([(sp.start, sp.end)]))
        m["io.scan_rows_per_result_row"] = scanned / pruned.rows
    else:
        m["io.scan_rows_per_result_row"] = 0.0
    m["frame.collect_s"] = v.calls("call:frame.to_frame", "call:frame.stats", "call:frame.stats_df")
    m["frame.transpose_s"] = v.calls("call:frame.frame_to_maps", "call:frame.frame_to_rows")
    m["io.ops_failed"] = sum(1 for r in ops if r.kind != "query" and not r.ok)
    m["ops_failed_frac"] = sum(1 for r in ops if not r.ok) / len(ops)
    write_wall = sum(r.wall for r in writes)
    read_wall = sum(r.wall for r in reads)
    m["orc_write_rows_per_s"] = m["io.rows_written"] / write_wall if write_wall else 0.0
    m["orc_read_rows_per_s"] = m["io.rows_read"] / read_wall if read_wall else 0.0
    copies = [r for r in writes if r.input_bytes]
    in_bytes = sum(r.input_bytes for r in copies)
    m["orc_bytes_per_input_byte"] = (
        sum(footprint[r.name][0] for r in copies) / in_bytes if in_bytes else 0.0
    )

    cw = v.phase_windows("construct")
    c_jobs = v.jobs_in(cw)
    c_stages = v.stages_in(cw)
    m["operators.construct_s"] = sum(b - a for a, b in cw)
    m["operators.construct_jobs"] = len(c_jobs)
    m["operators.construct_tasks"] = _tasks(c_stages)
    m["operators.construct_shuffle_write_bytes"] = sum(s["shuffleWriteBytes"] for s in c_stages)
    busy = 0.0
    for a, b in cw:
        job_iv = [
            (j["submissionTime"] / 1000.0, (j.get("completionTime") or b * 1000.0) / 1000.0)
            for j in v.jobs_in([(a, b)])
        ]
        busy += _union_within(job_iv, a, b)
    m["operators.driver_only_s"] = m["operators.construct_s"] - busy

    m["catalyst.plan_s"] = sum(b - a for a, b in v.phase_windows("plan"))

    ew = v.phase_windows("exec")
    e_stages = v.stages_in(ew)
    m["exec.run_s"] = sum(b - a for a, b in ew)
    m["exec.jobs"] = len(v.jobs_in(ew))
    m["exec.stages"] = len(e_stages)
    m["exec.tasks"] = _tasks(e_stages)
    m["exec.shuffle_write_bytes"] = sum(s["shuffleWriteBytes"] for s in e_stages)
    m["exec.spill_bytes"] = sum(s["memoryBytesSpilled"] for s in e_stages)
    m["exec.task_cpu_s"] = sum(s["executorCpuTime"] for s in e_stages) / 1e9
    run_ms = sum(s["executorRunTime"] for s in e_stages)
    m["exec.core_busy_frac"] = (
        run_ms / 1000.0 / (m["exec.run_s"] * cores) if m["exec.run_s"] else 0.0
    )
    m["exec.tasks_failed"] = sum(s["numFailedTasks"] for s in rec.stages)
    m["python.worker_cpu_s"] = rec.py_cpu_s
    m["host.steal_frac"] = rec.steal

    progress = [p for runs in rec.streams.values() for p in runs]
    ms = lambda key: sum(p["ms"].get(key, 0) for p in progress) / 1000.0  # noqa: E731
    m["streaming.batches"] = len(progress)
    m["streaming.input_rows"] = sum(p["rows"] for p in progress)
    m["streaming.query_planning_s"] = ms("queryPlanning")
    m["streaming.add_batch_s"] = ms("addBatch")
    m["streaming.commit_s"] = ms("walCommit") + ms("commitOffsets")
    m["streaming.trigger_s"] = ms("triggerExecution")
    drain = sum(b - a for a, b in v.phase_windows("construct", set(rec.streams)))
    m["streaming.outside_trigger_s"] = drain - m["streaming.trigger_s"] if rec.streams else 0.0

    by_name = {r.name: r for r in ops}
    jobs = construct_jobs(v)
    for q in all_queries:
        r = by_name.get(q)
        for phase in ("construct", "plan", "exec"):
            sp = v.phase(q, phase) if r is not None else None
            m[f"{q}.{phase}_s"] = sp.dur if sp is not None else 0.0
        m[f"{q}.wall_s"] = r.wall if r is not None else 0.0
        m[f"{q}.construct_jobs"] = jobs.get(q, 0)
        if q.startswith("streaming_"):
            runs = rec.streams.get(q, [])
            m[f"{q}.trigger_s"] = sum(p["ms"].get("triggerExecution", 0) for p in runs) / 1000.0
    return m
