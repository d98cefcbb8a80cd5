"""Spans recorded around the engine's public calls, and per-span Spark
statistics read back from Spark's event log.

A span is a named interval with a parent and a run id. Spans are kept in
memory and written as JSON when the run ends. After the session stops,
each Spark job from the event log is assigned to the innermost span open
at its submission time, and its stages and tasks are summed per span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field

# The spans the traced run reports. Per span: self time plus the Spark
# statistics of the jobs submitted while it was the innermost open span.
SPANS = [
    "pipeline.prologue_agg",
    "pipeline.sources",
    "pipeline.pairs_join",
    "pipeline.kernel",
    "pipeline.ids",
    "sinks.write_table",
    "coco.snapshot",
    "spatial_join.bbox",
    "spatial_join.exact",
    "dedup.minhash_lsh_pairs",
    "dedup.duplicate_clusters",
    "dedup.simhash_pairs",
    "similarity.embedding_near_duplicates",
]
SPAN_FIELDS = [
    ("self_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("task_max_over_p50", "ratio"),
]
COUNTERS = [
    ("tile_kernel.raster_us", "us"),
    ("tile_kernel.ann_us", "us"),
    ("tile_kernel.tile_us", "us"),
    ("tile_kernel.sink_us", "us"),
    ("tile_kernel.decode_us", "us"),
    ("tile_kernel.decode_cache_hits", "count"),
    ("tile_kernel.annotations_emitted", "count"),
    ("spatial_join.exact_residual_share", "ratio"),
    ("checkpoint.bytes_written", "bytes"),
    ("coco.snapshot_bytes", "bytes"),
    ("spark.persisted_rdds_after_run", "count"),
    ("peak_rss_mb", "MB"),
    ("trace.overhead_ratio", "ratio"),
    ("trace.top_level_coverage", "ratio"),
]

# EngineMetrics(phases=True) accumulator -> reported counter
KERNEL_COUNTERS = {
    "kernel_raster_us": "tile_kernel.raster_us",
    "kernel_ann_us": "tile_kernel.ann_us",
    "kernel_tile_us": "tile_kernel.tile_us",
    "kernel_sink_us": "tile_kernel.sink_us",
    "kernel_decode_us": "tile_kernel.decode_us",
    "decode_cache_hits": "tile_kernel.decode_cache_hits",
    "annotations_emitted": "tile_kernel.annotations_emitted",
}

# append_dataset(timings=...) keys, in order, -> span; every key after
# the kernel belongs to id assignment, and so does the tail up to return
TIMING_SPANS = {
    "prologue_agg": "pipeline.prologue_agg",
    "sources": "pipeline.sources",
    "pairs_join": "pipeline.pairs_join",
    "kernel": "pipeline.kernel",
}


def per_layer_names() -> list[tuple[str, str]]:
    out = [(f"{s}.{f}", u) for s in SPANS for f, u in SPAN_FIELDS]
    return out + list(COUNTERS)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with the event log's clock
    end: float
    parent: int | None
    run_id: int
    id: int = 0
    stats: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``run_id`` identifies one timed call."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = 0

    def add(self, name: str, start: float, end: float) -> int:
        """Record a span as a child of the innermost open span."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, start, end, parent, self.run_id, id=len(self.spans))
        self.spans.append(sp)
        return sp.id

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.add(name, time.time(), float("nan"))
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def add_timings(self, call_start: float, call_end: float, timings: dict) -> None:
        """Children of the open span rebuilt from ``append_dataset``'s
        ``timings=`` dict: each marked phase ends where the next begins."""
        t = call_start
        for key, name in TIMING_SPANS.items():
            if key in timings:
                self.add(name, t, t + timings[key])
                t += timings[key]
        self.add("pipeline.ids", t, max(t, call_end))

    def dump(self, path: str) -> None:
        """Write the spans, with their summed job statistics, as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["stats"].pop("stage_tasks", None)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump(rows, fh)


def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover."""
    kids = _children(spans)
    out = {}
    for s in spans:
        cov = _covered(
            [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])
             if c.end > s.start and c.start < s.end]
        )
        out[s.id] = max(0.0, (s.end - s.start) - cov)
    return out


def coverage(spans: list[Span], root: int) -> float:
    """Share of a span's time that its direct children account for."""
    r = spans[root]
    kids = [c for c in spans if c.parent == root]
    cov = _covered([(max(c.start, r.start), min(c.end, r.end)) for c in kids])
    return cov / (r.end - r.start) if r.end > r.start else 0.0


# -- event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or path.endswith((".inprogress.crc", ".crc")):
            continue
        with open(path, errors="replace") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        continue  # a truncated last line of a live log
    return events


def job_stats(events: list[dict]) -> list[dict]:
    """One record per Spark job: submission time (epoch s) and the
    stage/task/shuffle statistics of the stages it actually ran."""
    jobs: dict[int, dict] = {}
    stage_jobs: dict[int, list[int]] = {}
    stage_submit: dict[int, float] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"job": jid, "submit": ev["Submission Time"] / 1000.0}
            for sid in ev.get("Stage IDs", []):
                stage_jobs.setdefault(sid, []).append(jid)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                    "run": m.get("Executor Run Time", 0) / 1000.0,
                    "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "write": wr.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
    for j in jobs.values():
        j.update(stages=0, tasks=0, read=0, write=0, spill=0, stage_tasks=[])
    for sid, ts in tasks.items():
        # a stage listed by several jobs ran for the latest one submitted
        # before it; later jobs skip it
        owners = [jobs[j] for j in stage_jobs.get(sid, []) if j in jobs]
        if not owners:
            continue
        sub = stage_submit.get(sid, float("inf"))
        before = [j for j in owners if j["submit"] <= sub + 1e-3]
        job = max(before or owners, key=lambda j: j["submit"])
        job["stages"] += 1
        job["tasks"] += len(ts)
        job["read"] += sum(t["read"] for t in ts)
        job["write"] += sum(t["write"] for t in ts)
        job["spill"] += sum(t["spill"] for t in ts)
        job["stage_tasks"].append(ts)
    return sorted(jobs.values(), key=lambda j: j["submit"])


def _skew(stage_tasks: list[list[dict]]) -> float:
    """max/median task duration of the stage with the most task time."""
    many = [ts for ts in stage_tasks if len(ts) >= 2]
    if not many:
        return 1.0 if stage_tasks else 0.0
    ts = max(many, key=lambda ts: sum(t["run"] for t in ts))
    durs = [t["dur"] for t in ts]
    p50 = statistics.median(durs)
    return max(durs) / p50 if p50 > 0 else 1.0


def attach_jobs(spans: list[Span], jobs: list[dict]) -> None:
    """Assign each job to the innermost span open at its submission."""
    depth: dict[int, int] = {}
    for s in spans:
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    for s in spans:
        s.stats = dict(jobs=0, stages=0, tasks=0, read=0, write=0, spill=0, stage_tasks=[])
    for j in jobs:
        open_ = [s for s in spans if s.start <= j["submit"] <= s.end]
        if not open_:
            continue
        s = max(open_, key=lambda s: (depth[s.id], s.start))
        st = s.stats
        st["jobs"] += 1
        for k in ("stages", "tasks", "read", "write", "spill"):
            st[k] += j[k]
        st["stage_tasks"].extend(j["stage_tasks"])


def span_metrics(spans: list[Span], traced_runs: list[int]) -> dict[str, float]:
    """Per-call medians of each reported span's fields over the traced
    calls (a span absent from a call counts as zero in that call)."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for name in SPANS:
        per_call: dict[str, list[float]] = {f: [] for f, _ in SPAN_FIELDS}
        for rid in traced_runs:
            ss = [s for s in spans if s.name == name and s.run_id == rid]
            st_tasks = [ts for s in ss for ts in s.stats.get("stage_tasks", [])]
            vals = {
                "self_s": sum(selfs[s.id] for s in ss),
                "jobs": sum(s.stats.get("jobs", 0) for s in ss),
                "stages": sum(s.stats.get("stages", 0) for s in ss),
                "tasks": sum(s.stats.get("tasks", 0) for s in ss),
                "shuffle_write_bytes": sum(s.stats.get("write", 0) for s in ss),
                "shuffle_read_bytes": sum(s.stats.get("read", 0) for s in ss),
                "spill_bytes": sum(s.stats.get("spill", 0) for s in ss),
                "task_max_over_p50": _skew(st_tasks),
            }
            for f, v in vals.items():
                per_call[f].append(v)
        for f, _ in SPAN_FIELDS:
            vals = per_call[f]
            out[f"{name}.{f}"] = statistics.median(vals) if vals else 0.0
    return out
