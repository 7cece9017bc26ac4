"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files only: around each
call it makes into a public function of the package (``Tracer.span``),
and around internal calls between package modules by swapping the
module attribute for a wrapper (``Tracer.patch``). A span includes the
action that materializes the call's result (a collect, a noop write or
an eager local checkpoint), so its duration covers the work, not just
plan construction.

Spans stay in memory and are written once, when the run ends, with each
span's self time and the Spark counters attributed to it. Spark's
counters come from its event log (jobs, stages, tasks and their
metrics, attributed by timestamp to the innermost enclosing span) and a
StreamingQueryListener (per micro-batch durations); neither is enabled
in an untraced run.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import glob
import json
import os
import statistics
import threading
import time

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_wait_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def written(df):
    """Materialize with a noop write; the caller keeps the lazy plan."""
    noop_write(df)
    return df


def checkpoint(df):
    return df.localCheckpoint(eager=True)


class Tracer:
    """Span recorder, enabled in a traced run only. One client runs at
    a time (closed loop), so spans nest strictly in time and a single
    stack serves every thread — foreachBatch callbacks run on a py4j
    thread while the client thread waits inside the enclosing span."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.phase = "setup"
        self.spans: list[dict] = []
        self.stream_batches: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        with self._lock:
            rec = {
                "run_id": self.run_id,
                "span_id": len(self.spans),
                "parent_id": self._stack[-1]["span_id"] if self._stack else None,
                "name": name,
                "phase": self.phase,
                "start": time.time(),
                **attrs,
            }
            self.spans.append(rec)
            self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            with self._lock:
                self._stack.remove(rec)

    def patch(self, owner, attr: str, name: str, materialize=None, count_rows: bool = False):
        """Wrap ``owner.attr`` in a span while tracing is enabled.
        ``materialize(result)`` runs inside the span and returns what
        the caller gets; ``count_rows`` records the result's row count."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if materialize is not None:
                    out = materialize(out)
                if count_rows:
                    rec["rows"] = out.count()
                return out

        setattr(owner, attr, traced)

    # ---------------------------------------------------------- streaming

    def stream_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                tracer.stream_batches.append(
                    {
                        "batch_id": p.batchId,
                        "rows": p.numInputRows,
                        "start": start.timestamp(),
                        "dur_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Listener()

    # ------------------------------------------------------------ summary

    def attribute_event_log(self, log_dir: str) -> None:
        """Attribute each job, stage and task of the event log to the
        innermost span open at its submission / launch time."""
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        for rec in self.spans:
            for c in COUNTERS:
                rec.setdefault(c, 0)
        if not files:
            return
        stage_submit: dict[tuple, float] = {}
        tasks = []
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self._add(ev["Submission Time"] / 1000.0, jobs=1)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    t = info.get("Submission Time")
                    if t is not None:
                        stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = t / 1000.0
                        self._add(t / 1000.0, stages=1)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
        for ev in tasks:
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            launch = info["Launch Time"] / 1000.0
            sub = stage_submit.get((ev["Stage ID"], ev["Stage Attempt ID"]), launch)
            sw = m.get("Shuffle Write Metrics") or {}
            self._add(
                launch,
                tasks=1,
                task_wait_s=max(0.0, launch - sub),
                executor_cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                shuffle_write_mb=sw.get("Shuffle Bytes Written", 0) / 1e6,
                spill_mb=(m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6,
            )

    def _innermost(self, t: float):
        best = None
        for rec in self.spans:
            if rec["start"] <= t <= rec.get("end", rec["start"]):
                if best is None or rec["start"] >= best["start"]:
                    best = rec
        return best

    def _add(self, t: float, **vals) -> None:
        rec = self._innermost(t)
        if rec is not None:
            for k, v in vals.items():
                rec[k] = rec.get(k, 0) + v

    def finalize(self) -> None:
        """Self time = duration minus the time covered by child spans."""
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent_id"] is not None:
                children.setdefault(rec["parent_id"], []).append(rec)
        for rec in self.spans:
            rec["self_s"] = rec.get("dur_s", 0.0) - sum(c.get("dur_s", 0.0) for c in children.get(rec["span_id"], []))

    def op_spans(self) -> list[dict]:
        """The measured ops (warm-up ops run in the set-up phase)."""
        return [r for r in self.spans if r["name"] == "op" and r["phase"] == "op"]

    def within(self, outer: dict, rec: dict) -> bool:
        return outer["start"] <= rec["start"] and rec.get("end", 0) <= outer["end"]

    def op_batches(self) -> list[dict]:
        """Micro-batches that started inside a traced op."""
        ops = self.op_spans()
        return [b for b in self.stream_batches if any(o["start"] <= b["start"] <= o["end"] for o in ops)]

    def per_op_or_call(self, name: str) -> float:
        """A span name's total time per traced op that runs it, when it
        runs inside ops; else its mean time per call (set-up and the
        post-window checks)."""
        recs = [r for r in self.spans if r["name"] == name]
        if not recs:
            return 0.0
        per_op = [
            sum(r["dur_s"] for r in recs if self.within(o, r))
            for o in self.op_spans()
            if any(self.within(o, r) for r in recs)
        ]
        if per_op:
            return statistics.fmean(per_op)
        return statistics.fmean(r["dur_s"] for r in recs)

    def counters_per_op(self) -> dict[str, float]:
        ops = self.op_spans()
        tot = {c: 0.0 for c in COUNTERS}
        for o in ops:
            for r in self.spans:
                if self.within(o, r):
                    for c in COUNTERS:
                        tot[c] += r.get(c, 0)
        return {c: v / max(1, len(ops)) for c, v in tot.items()}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
