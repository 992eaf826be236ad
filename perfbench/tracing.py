"""Tracing for the traced (--trace 1) runs: spans recorded around calls into
the program's public functions, a self-time report, and a parser for Spark's
event log (the exchange layer).

A span is (id, name, start, end, parent, run, req). Spans are kept in memory
and written out as JSON lines when the run ends. A layer's self time is its
spans' total duration minus the part of each span that its child spans cover.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, req=None):
        st = self._stack()
        parent = st[-1] if st else None
        if req is None and parent is not None:
            req = self.spans[parent]["req"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run": self.run_id, "req": req}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def load_spans(path: str) -> list:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def own_times(spans: list) -> list:
    """-> [(span, self time in s)] for every finished span."""
    done = [s for s in spans if s["end"] is not None]
    kids: dict = {}
    for s in done:
        if s["parent"] is not None:
            kids.setdefault((s["run"], s["parent"]), []).append((s["start"], s["end"]))
    return [(s, s["end"] - s["start"] - _covered(kids.get((s["run"], s["id"]), ())))
            for s in done]


def self_times(spans: list) -> dict:
    """-> {name: {"total_s", "self_s", "count"}} over finished spans."""
    out: dict = {}
    for s, own in own_times(spans):
        agg = out.setdefault(s["name"], {"total_s": 0.0, "self_s": 0.0, "count": 0})
        agg["total_s"] += s["end"] - s["start"]
        agg["self_s"] += own
        agg["count"] += 1
    return out


def per_req_self_ms(spans: list, name: str) -> list:
    """Self time in ms of the spans called `name`, summed per request."""
    per: dict = {}
    for s, own in own_times(spans):
        if s["name"] == name:
            per[s["req"]] = per.get(s["req"], 0.0) + own * 1000
    return list(per.values())


SELF_LAYERS = ("tokenizer", "ner", "resolution", "triples", "graph_io", "streaming",
               "render", "rest")


def layer_self_s(spans: list) -> dict:
    """-> {"<layer>.self_s": seconds} for every layer with spans; a span
    named "<layer>" or "<layer>.<part>" belongs to the layer."""
    out: dict = {}
    for name, agg in self_times(spans).items():
        layer = name.split(".")[0]
        if layer in SELF_LAYERS:
            out[f"{layer}.self_s"] = out.get(f"{layer}.self_s", 0.0) + agg["self_s"]
    return out


def report(spans: list, log) -> None:
    """Print the self-time table to the log stream."""
    rows = sorted(self_times(spans).items(), key=lambda kv: -kv[1]["self_s"])
    log(f"{'span':<24}{'count':>8}{'total_s':>12}{'self_s':>12}")
    for name, a in rows:
        log(f"{name:<24}{a['count']:>8}{a['total_s']:>12.4f}{a['self_s']:>12.4f}")


# ------------------------------------------------------------ Spark event log
def exchange_metrics(event_log_dir: str, select, wall_s: float, cores: int) -> dict:
    """Shuffle, spill and task statistics of the jobs whose job group passes
    select(group), from the application's event log (read after
    spark.stop(), which flushes it).

    task_skew is max / median task duration of the worst stage, over stages
    with at least two tasks whose longest task ran at least 200 ms (shorter
    stages are scheduling noise). cpu_busy_share is the summed executor run
    time divided by wall_s x cores."""
    stage_group: dict = {}
    jobs = 0
    tasks = failures = 0
    shuffle_w = shuffle_r = spill = 0
    run_ms = 0
    durations: dict = {}
    for path in sorted(glob.glob(os.path.join(event_log_dir, "*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if select(group):
                        jobs += 1
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in stage_group:
                        continue
                    tasks += 1
                    info = ev.get("Task Info") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if info.get("Failed") or reason != "Success":
                        failures += 1
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    shuffle_w += sw.get("Shuffle Bytes Written", 0)
                    shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    run_ms += m.get("Executor Run Time", 0)
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    durations.setdefault(key, []).append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
    skew = 1.0
    for ds in durations.values():
        if len(ds) >= 2 and max(ds) >= 200:
            skew = max(skew, max(ds) / max(statistics.median(ds), 1))
    return {
        "exchange.shuffle_write_bytes": shuffle_w,
        "exchange.shuffle_read_bytes": shuffle_r,
        "exchange.spill_bytes": spill,
        "exchange.task_skew": skew,
        "exchange.cpu_busy_share": (run_ms / 1000) / (wall_s * cores) if wall_s > 0 else 0.0,
        "exchange.jobs": jobs,
        "exchange.tasks": tasks,
        "exchange.task_failures": failures,
    }
