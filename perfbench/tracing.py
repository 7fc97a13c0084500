"""Benchmark-side tracing: spans around calls into the engine, Spark
status-store records per job group, and codec timing for in-process
replays.

Spans are kept in memory and written once, when the run ends. With
tracing off, ``Tracer.span`` yields without recording anything.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def wrap(self, module, attr: str, name: str, on_result=None):
        """Replace ``module.attr`` by a spanned version; returns an undo
        callable. ``on_result(rec, args, result)`` may add attributes."""
        orig = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None and rec is not None:
                    on_result(rec, args, out)
                return out

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


def _opt(o):
    return o.get() if o.isDefined() else None


def collect_group(sc, group: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs of one job group, and the stages they ran, read from the
    driver's status store (the store behind the Spark UI; it is kept
    even with the UI off)."""
    store = sc._jsc.sc().statusStore()
    jobs, stages = [], {}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        j = store.job(jid)
        start, end = _opt(j.submissionTime()), _opt(j.completionTime())
        if start is None or end is None:
            continue
        desc = _opt(j.description())
        sids = [j.stageIds().apply(i) for i in range(j.stageIds().size())]
        jobs.append(
            {
                "group": group,
                "job_id": jid,
                "description": desc if desc is not None else j.name(),
                "start": start.getTime() / 1000.0,
                "end": end.getTime() / 1000.0,
                "stage_ids": sids,
            }
        )
        for sid in sids:
            if sid in stages:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
            if str(st.status()) != "COMPLETE":
                continue
            stages[sid] = {
                "tasks": st.numCompleteTasks(),
                "shuffle_read": st.shuffleReadBytes(),
                "shuffle_write": st.shuffleWriteBytes(),
                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "exec_run_s": st.executorRunTime() / 1000.0,
            }
    return jobs, stages
