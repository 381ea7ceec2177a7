"""Tracing for the benchmark's traced runs.

- ``Spans``: client-side spans (name, start, end, parent) kept in memory
  and written once when the run ends.
- ``traced_kernel``: patches ``zpdfspark.spark.udfs.extract_arrow_batches``
  so every generator it returns is wrapped. The wrapper splits a Python
  task's time into waiting for input, work inside the generator, and
  waiting for the JVM to take output, and sums the kernel's own
  per-document columns. Each task writes one JSON file when it ends.
- ``EventLog``: Spark's event log, grouped by job group, for task run,
  CPU and GC time, shuffle bytes and per-stage wall time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
import uuid


class Spans:
    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.items), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.items.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, rec: dict) -> None:
        self.items.append({"id": len(self.items), **rec})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.items, f)


def family(url: str) -> str:
    """Generator family from a fixture url: https://host/<family>/..."""
    parts = url.split("/")
    return parts[3] if len(parts) > 4 else "unknown"


def _wrap(fn, out_dir: str, tag: int):
    def run(batches):
        import pyarrow.compute as pc

        st = {"tag": tag, "start": time.time(), "in_wait": 0.0, "busy": 0.0,
              "out_wait": 0.0, "batches": 0, "rows": 0, "in_bytes": 0,
              "out_bytes": 0, "kernel_ms": 0.0, "objects_resolved": 0,
              "streams_decoded": 0, "errors": 0, "families": {}}

        def fed():
            it = iter(batches)
            while True:
                t = time.perf_counter()
                rb = next(it, None)
                st["in_wait"] += time.perf_counter() - t
                if rb is None:
                    return
                st["batches"] += 1
                st["rows"] += rb.num_rows
                st["in_bytes"] += rb.nbytes
                yield rb

        out = fn(fed())
        while True:
            waited = st["in_wait"]
            t = time.perf_counter()
            rb = next(out, None)
            st["busy"] += time.perf_counter() - t - (st["in_wait"] - waited)
            if rb is None:
                break
            st["out_bytes"] += rb.nbytes
            ms = rb.column("elapsed_ms").to_pylist()
            st["kernel_ms"] += sum(ms)
            for col in ("objects_resolved", "streams_decoded"):
                st[col] += pc.sum(rb.column(col)).as_py() or 0
            st["errors"] += pc.sum(rb.column("error_count")).as_py() or 0
            fams = st["families"]
            for url, m in zip(rb.column("url").to_pylist(), ms):
                c = fams.setdefault(family(url or ""), [0, 0.0])
                c[0] += 1
                c[1] += m
            t = time.perf_counter()
            yield rb
            st["out_wait"] += time.perf_counter() - t
        st["end"] = time.time()
        with open(os.path.join(out_dir, f"{uuid.uuid4().hex}.json"), "w") as f:
            json.dump(st, f)

    return run


@contextlib.contextmanager
def traced_kernel(out_dir: str, tag: int):
    """Wrap every extraction generator built inside the block; ``tag``
    (the job's span id) is written into each task's record."""
    from zpdfspark.spark import udfs

    os.makedirs(out_dir, exist_ok=True)
    original = udfs.extract_arrow_batches

    def patched(*args, **kwargs):
        return _wrap(original(*args, **kwargs), out_dir, tag)

    udfs.extract_arrow_batches = patched
    try:
        yield
    finally:
        udfs.extract_arrow_batches = original


def read_task_records(out_dir: str, tag: int) -> list[dict]:
    recs = []
    for path in glob.glob(os.path.join(out_dir, "*.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec["tag"] == tag:
            recs.append(rec)
    return recs


def sum_task_records(recs: list[dict]) -> dict:
    keys = ("in_wait", "busy", "out_wait", "batches", "rows", "in_bytes",
            "out_bytes", "kernel_ms", "objects_resolved", "streams_decoded",
            "errors")
    total = {k: sum(r[k] for r in recs) for k in keys}
    fams: dict[str, list] = {}
    for r in recs:
        for name, (n, ms) in r["families"].items():
            c = fams.setdefault(name, [0, 0.0])
            c[0] += n
            c[1] += ms
    total["families"] = fams
    return total


class EventLog:
    """Jobs, stages and tasks from every event-log file under a directory,
    keyed by the job group that submitted them."""

    def __init__(self, log_dir: str):
        self.groups: dict[str, dict] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                     recursive=True)):
            self._read(path)

    def _read(self, path: str) -> None:
        job_group: dict[int, str] = {}
        stage_job: dict[int, int] = {}
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    jobs[jid] = {"start": ev["Submission Time"], "end": None,
                                 "stages": []}
                    for s in ev["Stage Infos"]:
                        stage_job.setdefault(s["Stage ID"], jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["wall"] = (info.get("Completion Time", 0)
                                  - info.get("Submission Time", 0)) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    st["run"].append(m.get("Executor Run Time", 0) / 1000.0)
                    st["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}
                                            ).get("Shuffle Bytes Written", 0)
                    st["output"] += (m.get("Output Metrics") or {}
                                     ).get("Bytes Written", 0)
        for sid, st in stages.items():
            jid = stage_job.get(sid)
            if jid is not None and st["run"]:
                jobs[jid]["stages"].append(st)
        for jid, job in sorted(jobs.items()):
            g = self.groups.setdefault(job_group.get(jid, ""), {"jobs": []})
            job["wall"] = ((job["end"] or job["start"]) - job["start"]) / 1000.0
            g["jobs"].append(job)

    def group(self, name: str) -> dict:
        """Totals for one job group. ``kernel_stage`` is the stage with the
        most task time; ``side_jobs`` are jobs other than the last that
        neither write shuffle nor output files (range-sort sampling jobs,
        probes); ``other_stages_s`` is the wall of every other stage."""
        jobs = self.groups.get(name, {"jobs": []})["jobs"]
        stages = [s for j in jobs for s in j["stages"]]
        side = [j for j in jobs[:-1]
                if j["stages"]
                and not any(s["shuffle_write"] or s["output"]
                            for s in j["stages"])]
        kernel = max(stages, key=lambda s: sum(s["run"]), default=None)
        side_stages = [s for j in side for s in j["stages"]]
        return {
            "jobs": len(jobs),
            "jobs_s": _union_s([(j["start"], j["end"] or j["start"])
                                for j in jobs]),
            "task_run_s": sum(sum(s["run"]) for s in stages),
            "task_cpu_s": sum(s["cpu"] for s in stages),
            "gc_s": sum(s["gc"] for s in stages),
            "shuffle_mb": sum(s["shuffle_write"] for s in stages) / 1e6,
            "kernel_stage": kernel,
            "side_jobs": len(side),
            "side_jobs_s": sum(j["wall"] for j in side),
            "other_stages_s": sum(
                s["wall"] for s in stages
                if s is not kernel and not any(s is t for t in side_stages)),
        }


def _union_s(spans_ms: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of (start, end) millisecond spans."""
    total, reach = 0, None
    for start, end in sorted(spans_ms):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total / 1000.0


def _new_stage() -> dict:
    return {"wall": 0.0, "run": [], "cpu": 0.0, "gc": 0.0,
            "shuffle_write": 0, "output": 0}
