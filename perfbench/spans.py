"""Layer spans around the program's public calls, with Spark job metrics.

Only the traced run installs the wrappers. Each span sets its own Spark job
group, so every job counts toward the innermost open span; the parent's
group is restored on exit. Job and stage metrics are read once, at the end
of the run, from the status store (`statusStore().lastStageAttempt`), which
works with the UI disabled. Spans stay in memory until the run ends.
"""
from __future__ import annotations

import functools
import time
from contextlib import contextmanager

SPAN_METRICS = (
    "calls", "wall_s", "self_s", "driver_s", "jobs", "tasks", "exec_cpu_s",
    "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # bookkeeping time spent inside span entry/exit

    @contextmanager
    def span(self, layer: str):
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans), "layer": layer, "group": f"perfbench-{len(self.spans)}",
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], layer)
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["layer"])
            else:
                self.sc._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - t_out

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace `owner.attr` (a module function or a class method) by a
        wrapper that runs it inside a span named `layer`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ------------------------------------------------------------ reporting

    def collect(self) -> list[dict]:
        """Attach job ids, job intervals and stage metrics to every span."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            jobs = []
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                stages = []
                for sid in tracker.getJobInfo(jid).stageIds:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # stage never ran (skipped): not in the store
                        continue
                    stages.append({
                        "stage": sid,
                        "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                        "exec_cpu_s": st.executorCpuTime() / 1e9,
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    })
                jobs.append({
                    "job": jid,
                    "start": sub.get().getTime() / 1e3 if sub.isDefined() else rec["start"],
                    "end": done.get().getTime() / 1e3 if done.isDefined() else rec["end"],
                    "stages": stages,
                })
            rec["jobs"] = sorted(jobs, key=lambda j: j["job"])
        return self.spans

    def layer_totals(self) -> dict[str, dict]:
        """Per-layer sums over every span of the run. A layer's self time
        excludes its child spans; its driver time is the part of its wall
        time during which no Spark job of any span was running."""
        spans = self.spans
        all_jobs = [(j["start"], j["end"]) for s in self.spans for j in s.get("jobs", [])]
        totals: dict[str, dict] = {}
        for s in spans:
            wall = s["end"] - s["start"]
            kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["id"]]
            t = totals.setdefault(s["layer"], dict.fromkeys(SPAN_METRICS, 0))
            t["calls"] += 1
            t["wall_s"] += wall
            t["self_s"] += wall - _covered(kids, s["start"], s["end"])
            t["driver_s"] += wall - _covered(all_jobs, s["start"], s["end"])
            for j in s.get("jobs", []):
                t["jobs"] += 1
                for st in j["stages"]:
                    t["tasks"] += st["tasks"]
                    t["exec_cpu_s"] += st["exec_cpu_s"]
                    t["shuffle_write_bytes"] += st["shuffle_write_bytes"]
                    t["spill_bytes"] += st["spill_bytes"]
        return totals

    def uncovered_share(self, start: float, end: float) -> float:
        """Share of [start, end] that no top-level span covers."""
        tops = [(s["start"], s["end"]) for s in self.spans if s["parent"] is None]
        return 1.0 - _covered(tops, start, end) / max(end - start, 1e-9)


def _covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of `intervals` clipped to [start, end]."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
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
