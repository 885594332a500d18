"""Spans recorded around layer calls, and Spark's event log read back
into per-span engine counters.

A span is one call into a layer: a tag naming the layer, a unique Spark
job group, and its wall interval.  With tracing on, each span sets its
job group before the call, so every Spark job the call runs carries it.
Jobs started by a streaming query run on the query's own thread without
that group; they are attributed to the span whose interval contains
their submission time (the changelog loop is a closed loop with one
client, so batch intervals never overlap).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import dataclass, field

ENGINE_COUNTERS = ("stages", "tasks", "shuffle_read_bytes",
                   "shuffle_write_bytes", "spill_bytes")
ENGINE_TIMES = ("executor_run_s", "executor_cpu_s", "gc_s",
                "stage_span_s", "driver_gap_s")


@dataclass
class Span:
    tag: str
    group: str
    t0: float  # epoch seconds
    t1: float = 0.0
    engine: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; sets a Spark job group per span when ``tagging``."""

    def __init__(self, spark, tagging: bool):
        self._sc = spark.sparkContext
        self.tagging = tagging
        self.spans: list[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, tag: str):
        sp = Span(tag, f"{tag}#{next(self._ids)}", time.time())
        if self.tagging:
            self._sc.setJobGroup(sp.group, tag)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            if self.tagging:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def walls(self, tag: str) -> list[float]:
        return [s.wall for s in self.spans if s.tag == tag]


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute_event_log(path: str, spans: list[Span]) -> None:
    """Fill ``span.engine`` for every span from an uncompressed,
    non-rolling Spark event log (one JSON event per line)."""
    by_group = {s.group: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.t0)
    stage_span: dict[int, Span] = {}
    stage_iv: dict[int, tuple[float, float]] = {}
    stage_tasks: dict[int, int] = {}
    acc: dict[int, dict] = {}

    def owner(props: dict, submit_ms: int) -> Span | None:
        sp = by_group.get(props.get("spark.jobGroup.id"))
        if sp is not None:
            return sp
        t = submit_ms / 1000.0
        for s in ordered:
            if s.t0 <= t <= s.t1:
                return s
        return None

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                sp = owner(ev.get("Properties") or {}, ev["Submission Time"])
                if sp is not None:
                    # a stage reused by a later job is listed there too,
                    # but runs (and is counted) under the first job
                    for sid in ev["Stage IDs"]:
                        stage_span.setdefault(sid, sp)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                if "Submission Time" in info and "Completion Time" in info:
                    stage_iv[sid] = (info["Submission Time"] / 1000.0,
                                     info["Completion Time"] / 1000.0)
                stage_tasks[sid] = info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                if not tm:
                    continue
                a = acc.setdefault(ev["Stage ID"], dict.fromkeys(
                    ("run_ms", "cpu_ns", "gc_ms", "rd", "wr", "spill"), 0))
                rd = tm.get("Shuffle Read Metrics", {})
                a["run_ms"] += tm.get("Executor Run Time", 0)
                a["cpu_ns"] += tm.get("Executor CPU Time", 0)
                a["gc_ms"] += tm.get("JVM GC Time", 0)
                a["rd"] += (rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0))
                a["wr"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                a["spill"] += (tm.get("Memory Bytes Spilled", 0)
                               + tm.get("Disk Bytes Spilled", 0))

    for s in spans:
        e = dict.fromkeys(ENGINE_COUNTERS + ENGINE_TIMES, 0)
        ivs = []
        for sid, sp in stage_span.items():
            if sp is not s or sid not in stage_iv:
                continue  # skipped stages never complete
            a = acc.get(sid, {})
            e["stages"] += 1
            e["tasks"] += stage_tasks.get(sid, 0)
            e["shuffle_read_bytes"] += a.get("rd", 0)
            e["shuffle_write_bytes"] += a.get("wr", 0)
            e["spill_bytes"] += a.get("spill", 0)
            e["executor_run_s"] += a.get("run_ms", 0) / 1e3
            e["executor_cpu_s"] += a.get("cpu_ns", 0) / 1e9
            e["gc_s"] += a.get("gc_ms", 0) / 1e3
            lo, hi = stage_iv[sid]
            ivs.append((max(lo, s.t0), min(hi, s.t1)))
        e["stage_span_s"] = _union_len([iv for iv in ivs if iv[1] > iv[0]])
        e["driver_gap_s"] = max(0.0, s.wall - e["stage_span_s"])
        s.engine = e


def engine_per_op(spans: list[Span]) -> dict[str, float]:
    """Mean of each engine counter over the given spans (one per op)."""
    n = max(1, len(spans))
    return {k: sum(s.engine.get(k, 0) for s in spans) / n
            for k in ENGINE_COUNTERS + ENGINE_TIMES}


def engine_by_tag(spans: list[Span]) -> dict[str, dict]:
    """Per layer tag: call count and the mean engine counters per call."""
    tags: dict[str, list[Span]] = {}
    for s in spans:
        tags.setdefault(s.tag, []).append(s)
    return {t: dict(calls=len(ss), wall_s=sum(s.wall for s in ss) / len(ss),
                    **engine_per_op(ss))
            for t, ss in tags.items()}
