"""Tracing from outside the program: spans, job groups, event-log totals.

`Tracer.install()` wraps the pipeline's public stage functions in
place (module attributes), so the program itself is unchanged and the
untraced runs execute the unwrapped code. Each wrapped call becomes a
span (name, start, end, parent, shared run id), kept in memory and
written out by `Tracer.dump`.

Stage attribution. Work happens lazily inside `StageIO.checkpoint`
(the parquet write) and in the actions the pipeline runs right after
it (the extraction check, `isEmpty`), so spans around the stage
functions alone would miss most of it. Each checkpoint call therefore
opens a *segment* that lasts until the next checkpoint (or the metrics
write, or the end of the job) and sets the Spark job group to the
segment's stage; the event log then ties every task to the segment
that launched it.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from contextlib import contextmanager

# stage (checkpoint name) -> layer; the pseudo-stages "_read" (before
# the first checkpoint: reading earlier sinks) and "_metrics" (the
# lineage-table write) belong to stageio.
LAYER_OF = {"docs": "extract", "spans": "explode", "relations": "explode",
            "entities": "linking", "triples": "triples",
            "_read": "stageio", "_metrics": "stageio"}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._segment: dict | None = None
        self._undo: list = []
        self.phase = "run"

    # -- spans -------------------------------------------------------
    def _open(self, name: str, parent: dict | None, **attrs) -> dict:
        sp = {"run_id": self.run_id, "span_id": len(self.spans),
              "parent_id": parent["span_id"] if parent else None,
              "name": name, "phase": self.phase, "start": time.perf_counter(),
              "end": None, **attrs}
        self.spans.append(sp)
        return sp

    @contextmanager
    def span(self, name: str):
        # directly under the job span, the open segment is the parent
        if len(self._stack) == 1 and self._segment is not None:
            parent = self._segment
        else:
            parent = self._stack[-1] if self._stack else None
        sp = self._open(name, parent)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.perf_counter()

    @contextmanager
    def job(self, name: str, phase: str):
        """Top-level span around one pipeline call."""
        self.phase = phase
        with self.span(name) as sp:
            self._switch("_read")
            try:
                yield sp
            finally:
                self._switch(None)

    def _switch(self, stage: str | None) -> None:
        if self._segment is not None:
            self._segment["end"] = time.perf_counter()
        self._segment = None
        if stage is None or not self._stack:
            self.spark.sparkContext.setJobGroup("idle", "outside a traced job")
            return
        self._segment = self._open(f"segment:{stage}", self._stack[0], stage=stage)
        self.spark.sparkContext.setJobGroup(f"{self.phase}:{stage}", stage)

    # -- wrapping ----------------------------------------------------
    def _wrap(self, owner, attr: str, before=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with self.span(attr):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from causalre_spark import pipeline
        from causalre_spark.operators import linking

        def stage_start(_io, name, *a, **k):
            self._switch(name)

        def metrics_start(_io, *a, **k):
            self._switch("_metrics")

        self._wrap(pipeline.StageIO, "checkpoint", before=stage_start)
        self._wrap(pipeline.StageIO, "write_metrics", before=metrics_start)
        for fn in ("extract_docs", "explode_spans", "explode_rels",
                   "canonical_triples"):
            self._wrap(pipeline, fn)
        for fn in ("link_mentions", "link_forms_driver", "connected_components"):
            self._wrap(linking, fn)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- summaries ---------------------------------------------------
    def closed_spans(self) -> list[dict]:
        """Spans with `wall_s` and `self_s` (wall minus child spans;
        children of one span never overlap: the driver is one thread)."""
        child_s: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent_id"] is not None:
                child_s[sp["parent_id"]] = (child_s.get(sp["parent_id"], 0.0)
                                            + sp["end"] - sp["start"])
        return [dict(sp, wall_s=sp["end"] - sp["start"],
                     self_s=sp["end"] - sp["start"] - child_s.get(sp["span_id"], 0.0))
                for sp in self.spans]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.closed_spans():
                fh.write(json.dumps(sp) + "\n")


def event_log_totals(log_dir: str) -> dict[str, dict]:
    """Parse an uncompressed Spark event log; totals per job group.

    A stage's tasks belong to the first job that lists the stage (later
    jobs list it again only as skipped)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0})

    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "none")
                acc(group)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = acc(stage_group.get(ev["Stage ID"], "none"))
                t["tasks"] += 1
                t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                rd = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                            + rd.get("Local Bytes Read", 0))
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                             ).get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out
