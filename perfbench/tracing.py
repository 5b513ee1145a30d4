"""Spans around the engine's public calls, and the Spark event log that
attributes jobs, stages and tasks to those spans.

Only the benchmark's own files are instrumented: ``Tracer.install``
wraps methods of ``TableStore`` and ``CrawlEngine`` at class level, so
the engine code is unchanged. Around every wrapped call the calling
thread's ``spark.job.description`` is set to ``pb:<span id>``; each job
in the event log then names the span that submitted it. Jobs that carry
no span id (for example the counts ``run_round`` submits from its
maintain thread pool outside any ``TableStore`` call) are attributed to
the operation span that was open when they were submitted.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

DESC_KEY = "spark.job.description"

# TableStore methods that commit data, and those that only read state
COMMIT_METHODS = ("overwrite", "append", "stage_overwrite", "commit_staged",
                  "append_local")
READ_METHODS = ("read", "count", "exists", "table_meta")
ENGINE_METHODS = ("run", "run_round", "compact_frontier", "ensure_pages_ext")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: dict | None = None
        self._patches: list[tuple[type, str, object]] = []

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]["id"]
        else:
            parent = self._op["id"] if self._op is not None else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent,
            "op": self._op["op"] if self._op is not None else attrs.get("op"),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        prev = self.sc.getLocalProperty(DESC_KEY)
        self.sc.setLocalProperty(DESC_KEY, f"pb:{rec['id']}")
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(DESC_KEY, prev)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op_span(self, op: int):
        """The root span of one timed operation (main thread)."""
        with self.span("op", op=op, layer="bench") as rec:
            self._op = rec
            try:
                yield rec
            finally:
                self._op = None

    # -- instrumentation ------------------------------------------------------
    def _wrap(self, cls: type, meth: str, layer: str, kind: str) -> None:
        orig = getattr(cls, meth)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = {"layer": layer, "kind": kind, "method": meth}
            if layer == "tables":
                first = args[1] if len(args) > 1 else None
                attrs["table"] = (
                    first.get("table") if isinstance(first, dict) else first
                )
            with tracer.span(f"{layer}.{meth}", **attrs) as rec:
                out = orig(*args, **kwargs)
                if meth == "run_round" and isinstance(out, dict):
                    rec["summary"] = out
                return out

        setattr(cls, meth, wrapper)
        self._patches.append((cls, meth, orig))

    def install(self) -> None:
        from pixcrawler_spark.plans.crawl import CrawlEngine
        from pixcrawler_spark.sources.tables import TableStore

        for m in COMMIT_METHODS:
            self._wrap(TableStore, m, "tables", "commit")
        for m in READ_METHODS:
            self._wrap(TableStore, m, "tables", "read")
        for m in ENGINE_METHODS:
            self._wrap(CrawlEngine, m, "crawl", m)

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._patches):
            setattr(cls, meth, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)


# -- event log ----------------------------------------------------------------
def read_event_log(log_dir: str) -> dict:
    """Jobs, executed stages and finished tasks from an uncompressed
    Spark event log directory (one application)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_run: set[int] = set()
    tasks: list[dict] = []
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    for path in sorted(paths, key=lambda p: int(
            os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "desc": props.get(DESC_KEY),
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    stages_run.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "dur_ms": info.get("Finish Time", 0)
                        - info.get("Launch Time", 0),
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "stage_job": stage_job, "stages_run": stages_run,
            "tasks": tasks}


def attribute_jobs(log: dict, spans: list[dict]) -> dict[int, dict]:
    """job id -> the span that submitted it (by description, else the
    operation span open at submission)."""
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["name"] == "op"]
    out: dict[int, dict] = {}
    for jid, job in log["jobs"].items():
        desc = job["desc"] or ""
        span = None
        if desc.startswith("pb:"):
            span = by_id.get(int(desc[3:]))
        if span is None:
            span = next(
                (o for o in ops if o["start"] <= job["submit"] <= o["end"]),
                None,
            )
        if span is not None:
            out[jid] = span
    return out


# -- per-layer metrics ----------------------------------------------------------
def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _ancestors(span: dict, by_id: dict) -> list[dict]:
    out = []
    p = by_id.get(span["parent"])
    while p is not None:
        out.append(p)
        p = by_id.get(p["parent"])
    return out


def layer_metrics(spans: list[dict], log: dict, cores: int,
                  main_table: str) -> dict[str, float]:
    """Per-layer numbers over the traced operations, each the median
    across operations (crawl-layer numbers: across rounds).

    ``main_table`` is the table whose write is the operation's main
    data job (``round_log`` for a crawl round's decide step,
    ``pages_ext`` for an extraction); ``spark.task_skew`` is taken over
    the stages that write it."""
    by_id = {s["id"]: s for s in spans}
    ops = sorted((s for s in spans if s["name"] == "op"), key=lambda s: s["op"])
    op_ids = {o["op"] for o in ops}

    def in_op(s):
        return s.get("op") in op_ids

    def outermost_tables(s):
        return s.get("layer") == "tables" and not any(
            a.get("layer") == "tables" for a in _ancestors(s, by_id)
        )

    rounds = [s for s in spans if s.get("method") == "run_round" and in_op(s)]
    decide, maintain = [], []
    for r in rounds:
        # calls made by run_round itself; compaction's own frontier_added
        # rewrite is a child of the compact_frontier span, not of the round
        direct = [s for s in spans if s["parent"] == r["id"]]
        log_w = [s for s in direct if s.get("table") == "round_log"
                 and s.get("method") == "overwrite"]
        added = [s for s in direct if s.get("table") == "frontier_added"
                 and s.get("method") == "commit_staged"]
        if log_w:
            decide.append(log_w[0]["end"] - log_w[0]["start"])
            if added:
                maintain.append(added[0]["end"] - log_w[0]["end"])

    jobs_of = attribute_jobs(log, spans)
    job_op = {j: s.get("op") for j, s in jobs_of.items()}
    stage_tasks: dict[int, list[dict]] = {}
    for t in log["tasks"]:
        stage_tasks.setdefault(t["stage"], []).append(t)

    per_op: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        per_op.setdefault(name, []).append(float(v))

    for o in ops:
        k = o["op"]
        o_spans = [s for s in spans if s.get("op") == k]
        o_rounds = [s for s in o_spans if s.get("method") == "run_round"]
        n_r = max(len(o_rounds), 1)
        comp = [s for s in o_spans if s.get("method") == "compact_frontier"]
        add("plans.crawl.rounds", len(o_rounds))
        add("plans.crawl.compact_s",
            sum(s["end"] - s["start"] for s in comp) / n_r)
        add("plans.crawl.compactions", len(comp) / n_r)
        tbl = [s for s in o_spans if outermost_tables(s)]
        add("sources.tables.commit_s", sum(
            s["end"] - s["start"] for s in tbl if s["kind"] == "commit"))
        add("sources.tables.commits", sum(
            1 for s in tbl if s["kind"] == "commit"))
        add("sources.tables.read_s", sum(
            s["end"] - s["start"] for s in tbl if s["kind"] == "read"))
        sums = [r.get("summary") or {} for r in o_rounds]
        n_front = sum(x.get("n_frontier", 0) for x in sums)
        n_dec = sum(x.get("n_decided", 0) for x in sums)
        n_raw = sum(x.get("n_discovered_raw", 0) for x in sums)
        add("plans.crawl.n_frontier", n_front)
        add("plans.crawl.n_decided", n_dec)
        add("plans.crawl.n_discovered_raw", n_raw)
        add("operators.politeness.stall_ratio",
            sum(x.get("n_stalled", 0) for x in sums) / n_front
            if n_front else 0.0)
        add("operators.politeness.denied_ratio",
            sum(x.get("n_robots_denied", 0) for x in sums) / n_dec
            if n_dec else 0.0)
        add("operators.seen.dedup_hit_rate",
            1.0 - sum(x.get("n_discovered_new", 0) for x in sums) / n_raw
            if n_raw else 0.0)
        jids = [j for j, op in job_op.items() if op == k]
        sids = [s for s, j in log["stage_job"].items()
                if j in jids and s in log["stages_run"]]
        tasks = [t for s in sids for t in stage_tasks.get(s, [])]
        add("spark.jobs", len(jids) / n_r)
        add("spark.stages", len(sids) / n_r)
        add("spark.tasks", len(tasks) / n_r)
        wall = o["end"] - o["start"]
        add("spark.busy_share",
            sum(t["run_ms"] for t in tasks) / 1000.0 / (wall * cores)
            if wall > 0 else 0.0)
        add("spark.shuffle_bytes", sum(t["shuffle_bytes"] for t in tasks))
        add("spark.spill_bytes", sum(t["spill_bytes"] for t in tasks))
        main_jobs = {j for j, s in jobs_of.items() if s.get("op") == k and (
            s.get("table") == main_table
            or any(a.get("table") == main_table
                   for a in _ancestors(s, by_id)))}
        main_tasks = [t for s, j in log["stage_job"].items()
                      if j in main_jobs and s in log["stages_run"]
                      for t in stage_tasks.get(s, [])]
        durs = [t["dur_ms"] for t in main_tasks]
        add("spark.task_skew",
            max(durs) / max(statistics.median(durs), 1) if durs else 0.0)

    out = {name: _median(v) for name, v in per_op.items()}
    out["plans.crawl.decide_s"] = _median(decide)
    out["plans.crawl.maintain_s"] = _median(maintain)
    return out


def files_snapshot(dirs: list[str]) -> dict[str, int]:
    snap: dict[str, int] = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for name in files:
                p = os.path.join(root, name)
                try:
                    snap[p] = os.path.getsize(p)
                except OSError:
                    continue
    return snap


def files_written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(files, bytes) present after an operation that were absent or of
    another size before it."""
    new = [p for p, n in after.items() if before.get(p) != n]
    return len(new), sum(after[p] for p in new)
