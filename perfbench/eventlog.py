"""Fold a Spark eventlog and the benchmark's spans into per-layer numbers.

Usage: python3 perfbench/eventlog.py EVENTLOG SPANS_JSON

``SPANS_JSON`` is what ``spans.Tracer`` recorded (``run.py --trace 1``
leaves both files in ``.perfbench_work/last_trace/``). Jobs are keyed
by their job group ``perfbench-<span id>``; a job submitted inside a
``catalog`` span is charged to the layer that owns the committed table
(see spans.TABLE_OWNER). Per operation (each root ``pipeline`` span)
and per layer L the table holds:

  L.self_s      span time minus child spans; the jobs a commit runs are
                children of its catalog span, owned by the table's layer
  L.jobs        Spark jobs submitted in L's spans
  L.task_s      summed executor run time of their tasks
  L.shuffle_mb  shuffle bytes written
  L.spill_mb    bytes spilled to disk
  L.skew        max / median task run time in L's longest stage

plus pipeline.jobs, pipeline.driver_gap_s (operation time with no job
running) and pipeline.cpu_util (task time over wall time x cores).
Each value reported is the median over the operations.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

from spans import LAYERS

_MB = 2**20


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _clip(iv: tuple[float, float], lo: float, hi: float):
    return (max(iv[0], lo), min(iv[1], hi))


def _event_files(path: str) -> list[str]:
    """A single eventlog file, or the parts of a rolling (v2) log dir."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def _events(path: str):
    for part in _event_files(path):
        with open(part) as f:
            for line in f:
                yield json.loads(line)


def read_eventlog(path: str) -> dict[int, dict]:
    """Jobs by id: group, interval, and their stages' task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000,
                "end": None,
            }
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], {"tasks": []})
            st["wall"] = (
                info.get("Completion Time", 0) - info.get("Submission Time", 0)
            ) / 1000
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out = m.get("Output Metrics") or {}
            st = stages.setdefault(ev["Stage ID"], {"tasks": []})
            st["tasks"].append(
                (
                    m.get("Executor Run Time", 0) / 1000,
                    sw.get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                    out.get("Bytes Written", 0),
                )
            )
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is not None:
            jobs[jid].setdefault("stages", []).append(st)
    for job in jobs.values():
        job.setdefault("stages", [])
        if job["end"] is None:  # log cut short; keep the job, zero length
            job["end"] = job["start"]
    return jobs


def _skew(stages: list[dict]) -> float:
    runs = [st for st in stages if st["tasks"]]
    if not runs:
        return 0.0
    longest = max(runs, key=lambda st: st.get("wall", 0.0))
    times = [t[0] for t in longest["tasks"]]
    return max(times) / max(statistics.median(times), 1e-3)


def summarize_op(root: dict, spans: list[dict], jobs: dict, cores: int) -> dict:
    """Per-layer numbers for one operation (``root`` is its span)."""
    by_id = {s["id"]: s for s in spans}

    def under_root(s: dict) -> bool:
        while s is not None:
            if s["id"] == root["id"]:
                return True
            s = by_id.get(s["parent"]) if s["parent"] is not None else None
        return False

    op_spans = [s for s in spans if under_root(s)]
    op_ids = {s["id"] for s in op_spans}
    op_jobs = []
    for job in jobs.values():
        g = job["group"] or ""
        if g.startswith("perfbench-") and int(g.split("-", 1)[1]) in op_ids:
            span = by_id[int(g.split("-", 1)[1])]
            layer = span["owner"] if span["name"] == "catalog" else span["name"]
            op_jobs.append({**job, "layer": layer, "span": span})

    layer_self: dict[str, float] = {}
    for s in op_spans:
        kids = [
            _clip((c["start"], c["end"]), s["start"], s["end"])
            for c in op_spans
            if c["parent"] == s["id"]
        ]
        if s["name"] == "catalog" and s["owner"] != "catalog":
            # a commit's jobs execute the owner layer's deferred plan
            own = [
                _clip((j["start"], j["end"]), s["start"], s["end"])
                for j in op_jobs
                if j["span"] is s
            ]
            deferred = _union_s(own)
            layer_self[s["owner"]] = layer_self.get(s["owner"], 0.0) + deferred
            kids += own
        own_s = (s["end"] - s["start"]) - _union_s(kids)
        layer_self[s["name"]] = layer_self.get(s["name"], 0.0) + own_s

    out: dict[str, float] = {}
    for layer in LAYERS:
        js = [j for j in op_jobs if j["layer"] == layer]
        stages = [st for j in js for st in j["stages"]]
        tasks = [t for st in stages for t in st["tasks"]]
        out[f"{layer}.self_s"] = layer_self.get(layer, 0.0)
        out[f"{layer}.jobs"] = float(len(js))
        out[f"{layer}.task_s"] = sum(t[0] for t in tasks)
        out[f"{layer}.shuffle_mb"] = sum(t[1] for t in tasks) / _MB
        out[f"{layer}.spill_mb"] = sum(t[2] for t in tasks) / _MB
        out[f"{layer}.skew"] = _skew(stages)
    wall = root["end"] - root["start"]
    job_ivs = [_clip((j["start"], j["end"]), root["start"], root["end"]) for j in op_jobs]
    task_s = sum(t[0] for j in op_jobs for st in j["stages"] for t in st["tasks"])
    out["catalog.commits"] = float(
        sum(1 for s in op_spans if s["name"] == "catalog")
    )
    out["catalog.write_mb"] = (
        sum(
            t[3]
            for j in op_jobs
            if j["span"]["name"] == "catalog"
            for st in j["stages"]
            for t in st["tasks"]
        )
        / _MB
    )
    out["pipeline.jobs"] = float(len(op_jobs))
    out["pipeline.driver_gap_s"] = wall - _union_s(job_ivs)
    out["pipeline.cpu_util"] = task_s / (wall * cores)
    return out


def summarize(eventlog: str, spans: list[dict], cores: int) -> list[dict]:
    """One per-layer table per operation, in operation order."""
    jobs = read_eventlog(eventlog)
    roots = [s for s in spans if s["name"] == "pipeline"]
    return [summarize_op(r, spans, jobs, cores) for r in roots]


def median_table(tables: list[dict]) -> dict[str, float]:
    return {k: statistics.median(t[k] for t in tables) for k in tables[0]}


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[2]) as f:
        spans = json.load(f)
    tables = summarize(argv[1], spans["spans"], spans["cores"])
    for name, value in sorted(median_table(tables).items()):
        print(f"{name:28s} {value:12.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
