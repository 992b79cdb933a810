"""Traced-run collectors.

* ``Spans``: in-memory spans (name, start, end, parent) recorded around
  the benchmark's own calls into each layer; written out once at the end.
* ``progress_metrics``: per query kind (fwm / mavg / clsf) totals from
  ``StreamingQuery.recentProgress``.
* ``EventLog``: reads Spark's JSON event log with stdlib ``json`` and
  attributes jobs, stages and task metrics to standing queries (by query
  id) and to batch queries (by job group).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Spans:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def query_kind(name: str) -> str | None:
    for kind in ("fwm", "mavg", "clsf"):
        if f".{kind}." in name:
            return kind
    return None


def progress_metrics(progress: dict[str, list[dict]]) -> dict[str, float]:
    """``progress``: query name -> its progress records. Per kind: batch
    count, input rows, addBatch seconds and the per-trigger overhead
    (triggerExecution - addBatch); mavg state size and commit time from
    the last/summed stateOperators entries."""
    out: dict[str, float] = {}
    for kind in ("fwm", "mavg", "clsf"):
        for k in ("batches", "input_rows", "add_batch_s", "overhead_s"):
            out[f"streaming.{kind}.{k}"] = 0.0
    state_rows = state_bytes = commit_ms = 0.0
    for name, recs in progress.items():
        kind = query_kind(name)
        if kind is None:
            continue
        last_state = None
        for p in recs:
            dur = p.get("durationMs") or {}
            out[f"streaming.{kind}.batches"] += 1
            out[f"streaming.{kind}.input_rows"] += p.get("numInputRows", 0)
            add = dur.get("addBatch", 0) / 1e3
            out[f"streaming.{kind}.add_batch_s"] += add
            out[f"streaming.{kind}.overhead_s"] += \
                dur.get("triggerExecution", 0) / 1e3 - add
            for so in p.get("stateOperators") or []:
                commit_ms += so.get("commitTimeMs", 0)
                last_state = so
        if kind == "mavg" and last_state is not None:
            state_rows += last_state.get("numRowsTotal", 0)
            state_bytes += last_state.get("memoryUsedBytes", 0)
    out["mavg.state_rows"] = state_rows
    out["mavg.state_mb"] = state_bytes / 2**20
    out["mavg.state_commit_s"] = commit_ms / 1e3
    return out


class EventLog:
    """Aggregates of one application's event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}         # job id -> props, stages
        self.stage_scopes: dict[int, set[str]] = {}
        self.stage_metrics: dict[int, dict[str, float]] = {}
        # rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
        paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
        for path in sorted(paths, key=lambda p: int(
                os.path.basename(p).split("_")[1])):
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "query": props.get("sql.streaming.queryId"),
                "stages": list(ev.get("Stage IDs", [])),
            }
            for si in ev.get("Stage Infos", []):
                self._scopes(si)
        elif kind == "SparkListenerStageSubmitted":
            self._scopes(ev["Stage Info"])
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            m = self.stage_metrics.setdefault(ev["Stage ID"], {
                "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
                "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
                "spill_mb": 0.0})
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            m["tasks"] += 1
            m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / 2**20
            m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0)) / 2**20

    def _scopes(self, stage_info: dict) -> None:
        sid = stage_info["Stage ID"]
        names = self.stage_scopes.setdefault(sid, set())
        for rdd in stage_info.get("RDD Info", []):
            scope = rdd.get("Scope")
            if scope:
                try:
                    names.add(json.loads(scope).get("name", ""))
                except ValueError:
                    pass
            names.add(rdd.get("Name", ""))

    # -- attribution -------------------------------------------------------

    def jobs_of(self, pred) -> list[dict]:
        """Jobs whose (job group, streaming query id) satisfy ``pred``."""
        return [j for j in self.jobs.values() if pred(j["group"], j["query"])]

    def stages_of(self, pred) -> set[int]:
        return {s for j in self.jobs_of(pred) for s in j["stages"]}

    def sum_stages(self, stages, key: str) -> float:
        return sum(self.stage_metrics.get(s, {}).get(key, 0.0)
                   for s in stages)

    def stages_with_scope(self, word: str) -> set[int]:
        return {s for s, names in self.stage_scopes.items()
                if any(word in n for n in names)}

    def totals(self, stages: set[int], n_jobs: int) -> dict[str, float]:
        """Spark totals over the given stages (those that ran tasks)."""
        ran = [self.stage_metrics[s] for s in stages
               if s in self.stage_metrics]
        return {
            "spark.jobs": float(n_jobs),
            "spark.stages": float(len(ran)),
            "spark.tasks": float(sum(m["tasks"] for m in ran)),
            "shuffle.write_mb": sum(m["shuffle_write_mb"] for m in ran),
            "shuffle.read_mb": sum(m["shuffle_read_mb"] for m in ran),
            "spill.mb": sum(m["spill_mb"] for m in ran),
            "jvm.gc_s": sum(m["gc_s"] for m in ran),
        }
