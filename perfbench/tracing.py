"""Spans recorded from outside the package, and the Spark event-log fold.

Spans are kept in memory and written out once, when the run ends. Each
span has a name, start, end, parent and the run id shared by every span
of one run. The wrappers are installed over public module and class
attributes and removed again afterwards; the package itself is untouched.

Spark jobs are attributed to rounds and phases by submission time, not by
job group: jobs submitted from the crawl's commit thread pool carry no job
group, so group-based counting would miss every overlapped commit write.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

# run_round's recorded phases, in execution order; "commit" is the rest of
# the round wrapper's wall time after them
PHASES = ("read", "schedule", "probe", "claim", "fetch", "expand")
ALL_PHASES = PHASES + ("commit",)


class Tracer:
    """In-memory span recorder, safe to use from several threads."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stacks: dict[int, list[int]] = {}
        self._undo: list[tuple[object, str, object]] = []
        self._by_id: dict[int, dict] = {}

    def _parent(self) -> int | None:
        stack = self._stacks.get(threading.get_ident())
        if stack:
            return stack[-1]
        # a pool thread has no stack of its own: its caller is the main
        # thread's innermost open span (the crawl's overlapped writes)
        main = self._stacks.get(threading.main_thread().ident)
        return main[-1] if main else None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"run_id": self.run_id, "span_id": next(self._ids),
               "parent": self._parent(), "name": name, "attrs": attrs,
               "start": time.time(), "end": None}
        stack = self._stacks.setdefault(threading.get_ident(), [])
        stack.append(rec["span_id"])
        t = time.perf_counter()
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = rec["start"] + (time.perf_counter() - t)
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        spans = sorted(self.spans, key=lambda s: s["start"])
        path.write_text(json.dumps({"run_id": self.run_id, "spans": spans},
                                   indent=1))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def enclosing(self, span: dict, name: str) -> dict | None:
        """The nearest ancestor of ``span`` called ``name``."""
        if len(self._by_id) != len(self.spans):
            self._by_id = {s["span_id"]: s for s in self.spans}
        by_id = self._by_id
        p = span["parent"]
        while p is not None:
            s = by_id.get(p)
            if s is None:
                return None
            if s["name"] == name:
                return s
            p = s["parent"]
        return None


def span(tracer: Tracer | None, name: str, **attrs):
    """``tracer.span(...)``, or a no-op context when tracing is off."""
    return tracer.span(name, **attrs) if tracer is not None else nullcontext()


def install_layer_spans(tracer: Tracer) -> None:
    """Spans over the crawl's layer boundaries: seen store, checkpoint
    store, and the corpus read that ``run_crawl`` repeats internally."""
    from fraudcrawler_spark.frontier import crawl as fcrawl
    from fraudcrawler_spark.frontier.checkpoint import CrawlState
    from fraudcrawler_spark.frontier.seen import SeenStore

    def table_round(_self, table, round_no, *a, **k):
        return {"table": table, "round": round_no}

    tracer.wrap(fcrawl, "read_corpus", "pipeline.read_corpus")
    tracer.wrap(SeenStore, "probe_and_claim", "seen.probe_and_claim")
    tracer.wrap(SeenStore, "retire", "seen.retire")
    tracer.wrap(CrawlState, "write", "checkpoint.write", table_round)
    tracer.wrap(CrawlState, "read_all", "checkpoint.read_all", table_round)
    tracer.wrap(CrawlState, "commit", "checkpoint.commit",
                lambda _self, round_no, *a, **k: {"round": round_no})


def phase_windows(start_s: float, wall_s: float, row: dict) -> dict:
    """Per-phase [start, end) windows in epoch ms, rebuilt from the round
    wrapper's start and the phase durations of that round's metrics row."""
    out = {}
    t = start_s * 1000.0
    for p in PHASES:
        d = float(row.get(f"t_{p}") or 0.0) * 1000.0
        out[p] = (t, t + d)
        t += d
    out["commit"] = (t, start_s * 1000.0 + wall_s * 1000.0)
    return out


def _event_files(log_dir: Path) -> list[Path]:
    files = [p for p in log_dir.rglob("*") if p.is_file()
             and not p.name.startswith(".")]
    return sorted(files)


def fold_event_log(log_dir: Path, rounds: list[dict]) -> dict:
    """Fold a Spark event log into per-round and per-phase metrics.

    ``rounds``: dicts with ``start`` (epoch s), ``wall`` (s) and ``row``
    (the round's metrics-table row). Every value is a mean per round, except
    ``spark.task_skew`` (median over rounds of max ÷ median task ms) and
    ``spark.jobs_outside_rounds`` (a count). ``spark.shuffle_bytes.probe`` is
    the shuffle read + write of the jobs submitted in the probe window.
    """
    jobs: dict[int, float] = {}        # job id -> submission ms
    stage_job: dict[int, int] = {}     # stage id -> first job listing it
    tasks: list[tuple[int, dict]] = []  # (stage id, event)
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = float(ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev))

    windows = []
    for r in rounds:
        lo = r["start"] * 1000.0
        hi = lo + r["wall"] * 1000.0
        windows.append((lo, hi, phase_windows(r["start"], r["wall"], r["row"])))

    def locate(ms: float):
        for i, (lo, hi, ph) in enumerate(windows):
            if lo <= ms < hi:
                for p, (a, b) in ph.items():
                    if a <= ms < b:
                        return i, p
                return i, "commit"
        return None, None

    n = max(len(rounds), 1)
    per_round = [{"jobs": 0, "stages": set(), "tasks": 0, "run_ms": 0,
                  "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                  "task_ms": []} for _ in rounds]
    per_phase = {p: 0 for p in ALL_PHASES}
    job_at: dict[int, tuple[int, str]] = {}  # job id -> (round, phase)
    probe_shuffle = 0
    outside = 0
    for jid, ms in jobs.items():
        i, p = locate(ms)
        if i is None:
            outside += 1
            continue
        job_at[jid] = (i, p)
        per_round[i]["jobs"] += 1
        per_phase[p] += 1
    for sid, ev in tasks:
        i, p = job_at.get(stage_job.get(sid, -1), (None, None))
        if i is None:
            continue
        acc = per_round[i]
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        acc["tasks"] += 1
        acc["stages"].add(sid)
        acc["run_ms"] += m.get("Executor Run Time", 0)
        read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        written = sw.get("Shuffle Bytes Written", 0)
        acc["shuffle_read"] += read
        acc["shuffle_write"] += written
        if p == "probe":
            probe_shuffle += read + written
        acc["spill"] += (m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0))
        acc["task_ms"].append(max(0, info.get("Finish Time", 0)
                                  - info.get("Launch Time", 0)))

    def mean(key):
        return sum(len(a[key]) if key == "stages" else a[key]
                   for a in per_round) / n

    skews = [max(a["task_ms"]) / max(statistics.median(a["task_ms"]), 1.0)
             for a in per_round if a["task_ms"]]
    out = {
        "spark.jobs_per_round": mean("jobs"),
        "spark.stages_per_round": mean("stages"),
        "spark.tasks_per_round": mean("tasks"),
        "spark.executor_run_ms": mean("run_ms"),
        "spark.shuffle_read_bytes": mean("shuffle_read"),
        "spark.shuffle_write_bytes": mean("shuffle_write"),
        "spark.spill_bytes": mean("spill"),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "spark.shuffle_bytes.probe": probe_shuffle / n,
        "spark.jobs_outside_rounds": float(outside),
    }
    for p in ALL_PHASES:
        out[f"spark.jobs.{p}"] = per_phase[p] / n
    return out


def event_log_conf(log_dir: Path) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
    }
