"""Tracing for the benchmark: in-memory spans, driver-side wraps of public
sink functions, the Spark event-log reader and a process-tree sampler.

Spans are recorded only around calls the benchmark makes (and the four
wrapped driver-side functions); nothing inside ``disq_spark`` is edited.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Spans kept in memory and written out once, at exit."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, module, attr: str, name: str, bytes_of=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper until ``unwrap``.
        ``bytes_of(result)`` records bytes handled on the span."""
        orig = getattr(module, attr)

        def wrapped(*a, **kw):
            with self.span(name) as rec:
                out = orig(*a, **kw)
                if bytes_of is not None:
                    rec["bytes"] = bytes_of(out)
                return out

        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]


def wrap_sinks(tr: Tracer) -> None:
    """Driver-side commit steps of the single-file sinks."""
    from disq_spark.formats import bai, sbi, tabix
    from disq_spark.sinks import bam as bamsink
    from disq_spark.sinks import merge
    from disq_spark.sinks import variants as vsink

    tr.wrap(bamsink, "finalize_single", "sinks_bam.finalize")
    tr.wrap(vsink, "finalize_single", "sinks_variants.finalize")
    tr.wrap(merge, "concat_parts", "merge.concat", bytes_of=sum)
    tr.wrap(bai, "merge_bai", "bai.merge")
    tr.wrap(sbi, "merge_sbi", "sbi.merge")
    tr.wrap(tabix, "merge_tbi", "tabix.merge")


# ------------------------------------------------------------ event log


def read_event_log(path: str) -> dict:
    """Spark event log -> {stages: {id: {...}}, jobs: {id: {...}}}.

    A stage carries its submission/completion wall, task count, summed
    executor run and CPU time, longest task and shuffle bytes written; a
    job carries its description (the benchmark's label) and stage ids."""
    stages: dict[int, dict] = {}
    jobs: dict[int, dict] = {}

    def stage(sid):
        return stages.setdefault(sid, {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "max_task_s": 0.0,
                                       "shuffle_write": 0, "submit": None, "complete": None})

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {"label": props.get("spark.job.description"),
                                      "stages": ev.get("Stage IDs", [])}
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stage(info["Stage ID"])
                st["submit"] = info.get("Submission Time")
                st["complete"] = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                st = stage(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                ti = ev.get("Task Info") or {}
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["max_task_s"] = max(st["max_task_s"], (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return {"stages": stages, "jobs": jobs}


def op_split(log: dict, prefix: str, t0: float, t1: float, cores: int) -> dict:
    """Layer split of the jobs whose description starts with ``prefix``,
    for an operation that ran from t0 to t1 (epoch seconds)."""
    sids = sorted({s for j in log["jobs"].values() if (j["label"] or "").startswith(prefix)
                   for s in j["stages"] if s in log["stages"] and log["stages"][s]["complete"]})
    sts = [log["stages"][s] for s in sids]
    wall = t1 - t0
    spans = sorted((max(s["submit"] / 1e3, t0), min(s["complete"] / 1e3, t1)) for s in sts)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    run = sum(s["run_s"] for s in sts)
    last = max(sts, key=lambda s: s["complete"]) if sts else None
    return {
        "wall_s": wall,
        "task_cpu_s": sum(s["cpu_s"] for s in sts),
        "task_run_s": run,
        "core_busy_ratio": run / (wall * cores) if wall > 0 else 0.0,
        "max_task_s": max((s["max_task_s"] for s in sts), default=0.0),
        "driver_gap_s": max(wall - busy, 0.0),
        "stages": len(sts),
        "tasks": sum(s["tasks"] for s in sts),
        "shuffle_write_bytes": sum(s["shuffle_write"] for s in sts),
        "last_stage_s": (last["complete"] - last["submit"]) / 1e3 if last else 0.0,
        "last_stage_tasks": last["tasks"] if last else 0,
        "other_stages_s": sum((s["complete"] - s["submit"]) / 1e3 for s in sts if s is not last),
    }


# -------------------------------------------------------- process tree


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for p in _tree(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_io(root: int) -> tuple[int, int]:
    """(rchar, wchar) summed over the live process tree."""
    r = w = 0
    for p in _tree(root):
        try:
            with open(f"/proc/{p}/io") as f:
                for line in f:
                    k, v = line.split(":")
                    if k == "rchar":
                        r += int(v)
                    elif k == "wchar":
                        w += int(v)
        except (OSError, ValueError):
            pass
    return r, w


class RssSampler:
    """Background thread recording the process tree's peak RSS."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
