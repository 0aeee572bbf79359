"""Measurement from outside the program: spans, Spark's REST API, /proc.

* ``Tracer`` records spans (name, start, end, parent, run id) around the
  benchmark's own calls into the program. Each span carries its own Spark
  job group, so the jobs, stages and SQL plan nodes it caused can be found
  in the monitoring REST API afterwards. Spans stay in memory until the
  run ends. A disabled tracer records nothing and sets no job groups.
* ``SparkRest`` reads ``/jobs``, ``/stages`` and ``/sql?details=true``
  of the live UI and sums stage and SQL-node metrics per job group.
* ``RssSampler`` samples the resident memory of this process's
  descendants (the driver JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Spans of the benchmark's calls, each with its own Spark job group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _open(self, name: str, run, phase: bool = False) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": run if run is not None else (parent["run"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            "group": f"perfbench-{len(self.spans)}",
            "phase": phase,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span["group"], name)
        return span

    def _close(self) -> None:
        span = self._stack.pop()
        span["end"] = time.perf_counter()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, run=None):
        if not self.enabled:
            yield None
            return
        self._open(name, run)
        try:
            yield
        finally:
            self.end_phase()
            self._close()

    def phase(self, name: str) -> None:
        """End the open phase of the current span, if any, and start the
        next one. Consecutive phases tile their parent span."""
        if not self.enabled:
            return
        self.end_phase()
        self._open(name, None, phase=True)

    def end_phase(self) -> None:
        if self.enabled and self._stack and self._stack[-1]["phase"]:
            self._close()

    # ------------------------------------------------------------ analysis
    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def descendants(self, span: dict) -> list[dict]:
        out, frontier = [], [span]
        while frontier:
            kids = self.children(frontier.pop())
            out.extend(kids)
            frontier.extend(kids)
        return out

    def covered(self, span: dict) -> float:
        """Seconds of ``span`` covered by the union of its children."""
        total, reach = 0.0, span["start"]
        for c in sorted(self.children(span), key=lambda s: s["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], span["end"])
            if hi > lo:
                total += hi - lo
                reach = hi
        return total

    def self_time(self, span: dict) -> float:
        return span["end"] - span["start"] - self.covered(span)

    def dump(self, path: str) -> None:
        origin = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {
                **{k: s[k] for k in ("id", "name", "parent", "run", "group")},
                "start_s": round(s["start"] - origin, 6),
                "end_s": round(s["end"] - origin, 6),
                "self_s": round(self.self_time(s), 6),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


# ------------------------------------------------------------------ REST API
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "min": 60.0, "h": 3600.0, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20,
    "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-zµ]+)?")

#: Python-boundary SQL metrics of MapInPandas / FlatMapGroupsInPandas /
#: ArrowEvalPython nodes, keyed by the name the benchmark reports
PY_METRICS = {
    "py_run_s": "time to run Python workers",
    "py_init_s": "time to initialize Python workers",
    "py_start_s": "time to start Python workers",
    "py_sent_bytes": "data sent to Python workers",
    "py_returned_bytes": "data returned from Python workers",
}


def parse_metric(text: str) -> float:
    """Total of a rendered SQL metric: ``"12.3 MiB"`` or the first line of
    ``"total (min, med, max ...)\\n1.2 s (0 ms, ...)"``, in seconds/bytes."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class SparkRest:
    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def snapshot(self, settle_s: float = 20.0) -> dict:
        """Jobs, stages and SQL executions, once the status store has
        caught up with the listener bus (no job or stage still running)."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = self.get("/jobs")
            stages = self.get("/stages")
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                s["status"] == "ACTIVE" for s in stages
            )
            if not busy or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        sql = self.get("/sql?details=true&offset=0&length=100000")
        return {"jobs": jobs, "stages": stages, "sql": sql}

    def task_quantiles(self, stage: dict) -> tuple[float, float]:
        """(median, max) task executor run time of one stage, seconds."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return med / 1e3, mx / 1e3


def group_stages(snap: dict) -> dict[str, list[dict]]:
    """Stage attempts per job group; a stage is charged to the group of
    the first job that lists it."""
    owner: dict[int, str | None] = {}
    for job in sorted(snap["jobs"], key=lambda j: j["jobId"]):
        for sid in job["stageIds"]:
            owner.setdefault(sid, job.get("jobGroup"))
    out: dict[str, list[dict]] = {}
    for st in snap["stages"]:
        g = owner.get(st["stageId"])
        if g is not None:
            out.setdefault(g, []).append(st)
    return out


def group_jobs(snap: dict) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for job in snap["jobs"]:
        if job.get("jobGroup") is not None:
            out.setdefault(job["jobGroup"], []).append(job)
    return out


def group_sql(snap: dict) -> dict[str, list[dict]]:
    """SQL executions per job group (through the jobs each one ran)."""
    by_job = {j["jobId"]: j.get("jobGroup") for j in snap["jobs"]}
    out: dict[str, list[dict]] = {}
    for ex in snap["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        groups = {by_job.get(i) for i in ids} - {None}
        for g in groups:
            out.setdefault(g, []).append(ex)
    return out


def stage_totals(stages: list[dict]) -> dict:
    s = lambda k: sum(st.get(k, 0) for st in stages)  # noqa: E731
    return {
        "stages": len(stages),
        "tasks": s("numCompleteTasks"),
        "executor_run_s": s("executorRunTime") / 1e3,
        "executor_cpu_s": s("executorCpuTime") / 1e9,
        "gc_s": s("jvmGcTime") / 1e3,
        "scan_bytes": s("inputBytes"),
        "shuffle_write_bytes": s("shuffleWriteBytes"),
        "shuffle_fetch_wait_s": s("shuffleFetchWaitTime") / 1e3,
        "spill_bytes": s("memoryBytesSpilled") + s("diskBytesSpilled"),
    }


def python_nodes(execution: dict) -> list[dict]:
    """Python-boundary plan nodes of one SQL execution with their parsed
    metrics, output rows, the shuffle bytes of the Exchange feeding them
    and a ``role``: ``reassemble`` for a grouped pandas UDF,
    ``chunk_kernel`` for the Python node right below one, ``split`` for
    the Python node right below a chunk kernel, ``kernel`` otherwise."""
    nodes = {n["nodeId"]: n for n in execution.get("nodes", [])}
    metrics = {
        nid: {m["name"]: m["value"] for m in n.get("metrics", [])}
        for nid, n in nodes.items()
    }
    parent: dict[int, int] = {}
    kids: dict[int, list[int]] = {}
    for e in execution.get("edges", []):
        parent[e["fromId"]] = e["toId"]
        kids.setdefault(e["toId"], []).append(e["fromId"])
    is_py = lambda nid: PY_METRICS["py_run_s"] in metrics.get(nid, {})  # noqa: E731
    grouped = lambda nid: nid is not None and "FlatMapGroups" in nodes[nid]["nodeName"]  # noqa: E731

    def python_above(nid):
        p = parent.get(nid)
        while p is not None and not is_py(p):
            p = parent.get(p)
        return p

    def shuffle_below(nid) -> float:
        total, frontier = 0.0, list(kids.get(nid, []))
        while frontier:
            c = frontier.pop()
            if is_py(c):
                continue
            if nodes[c]["nodeName"] == "Exchange":
                total += parse_metric(metrics[c].get("shuffle bytes written", "0"))
                continue
            frontier.extend(kids.get(c, []))
        return total

    out = []
    for nid in nodes:
        if not is_py(nid):
            continue
        above = python_above(nid)
        if grouped(nid):
            role = "reassemble"
        elif grouped(above):
            role = "chunk_kernel"
        elif above is not None and grouped(python_above(above)):
            role = "split"
        else:
            role = "kernel"
        m = metrics[nid]
        out.append(
            {
                "name": nodes[nid]["nodeName"],
                "role": role,
                "rows": parse_metric(m.get("number of output rows", "0")),
                "shuffle_in_bytes": shuffle_below(nid),
                **{k: parse_metric(m.get(v, "0")) for k, v in PY_METRICS.items()},
            }
        )
    return out


# ---------------------------------------------------------------- /proc RSS
def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss pages) for every live (not zombie) process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            table[int(name)] = (int(fields[1]), int(fields[21]))
    return table


def descendants(root: int) -> dict[int, int]:
    """pid -> rss bytes of every live descendant of ``root``."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, frontier = {}, list(kids.get(root, []))
    page = os.sysconf("SC_PAGE_SIZE")
    while frontier:
        pid = frontier.pop()
        out[pid] = table[pid][1] * page
        frontier.extend(kids.get(pid, []))
    return out


def live(pids: set[int]) -> set[int]:
    """The processes of ``pids`` that are still running."""
    return pids & set(_proc_table())


def descendants_rss_bytes(root: int) -> int:
    return sum(descendants(root).values())


class RssSampler:
    """Peak summed RSS of this process's descendants while running."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, descendants_rss_bytes(os.getpid()))
