"""Pure measurement helpers: percentiles, benchmark-side spans, Spark
event-log attribution and driver-profile aggregation.

Nothing here imports pyspark, so the helpers are testable without a Spark
session (see test_measure.py).
"""

from __future__ import annotations

import json
import math
import sysconfig
import time
from contextlib import contextmanager

TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


# ------------------------------------------------------------ percentiles

def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th percentile of n."""
    return n - math.ceil(q / 100.0 * n)


def tail_level(n: int, need: int = 10) -> float | None:
    """Highest of TAIL_LEVELS with at least `need` samples beyond it, so a
    reported tail never rests on fewer than ten observations."""
    for q in TAIL_LEVELS:
        if samples_beyond(n, q) >= need:
            return q
    return None


# ------------------------------------------------------------------ spans

class Spans:
    """Benchmark-side spans (name, start, end, parent) around calls into the
    engine. With a SparkContext, every job started inside a span carries the
    tag ``name#id`` as its job description, so the event log attributes the
    job's tasks to the span instance. Disabled spans record nothing and make
    no JVM call."""

    def __init__(self, sc=None, enabled: bool = True):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[dict] = []
        self._sc = sc

    @staticmethod
    def tag(rec: dict) -> str:
        return f"{rec['name']}#{rec['id']}"

    @contextmanager
    def span(self, name: str, on: bool = True):
        """Record one span; ``on=False`` (or a disabled Spans) records none,
        which is how a traced run interleaves untraced operations."""
        if not (self.enabled and on):
            yield None
            return
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "end": None}
        self.records.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobDescription(self.tag(rec))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setJobDescription(
                    self.tag(self._stack[-1]) if self._stack else None)


def phase_windows(start: float, phase_seconds: dict) -> list[tuple]:
    """Consecutive (phase, t0, t1) windows from build_index's
    stats["phase_seconds"], which records each phase's wall in the order the
    phases ran, starting at the call."""
    out, t = [], start
    for name, dur in phase_seconds.items():
        out.append((name, t, t + float(dur)))
        t += float(dur)
    return out


# -------------------------------------------------------------- event log

# SQL metrics of the MapInArrow / MapInPandas / FlatMapGroupsInPandas nodes
# (the Arrow/Python UDF boundary)
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

TASK_SUMS = ("run_s", "cpu_s", "gc_s", "python_run_s", "python_bytes_in",
             "python_bytes_out", "shuffle_write_bytes", "shuffle_read_bytes",
             "fetch_wait_s", "spill_bytes")


def _acc_updates(task_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in task_info.get("Accumulables", ()):
        name, upd = a.get("Name"), a.get("Update")
        if name in (PY_RUN, PY_SENT, PY_RECV) and upd is not None:
            out[name] = out.get(name, 0.0) + float(upd)
    return out


def read_eventlog(path: str) -> dict:
    """Parse an uncompressed Spark event log into jobs and per-task rows."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"desc": props.get("spark.job.description"),
                             "submit": ev.get("Submission Time", 0) / 1000.0,
                             "ran_stages": set()}
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                acc = _acc_updates(info)
                tasks.append({
                    "stage": ev["Stage ID"],
                    "launch": info.get("Launch Time", 0) / 1000.0,
                    "finish": info.get("Finish Time", 0) / 1000.0,
                    "failed": bool(info.get("Failed")),
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "python_run_s": acc.get(PY_RUN, 0.0) / 1e3,
                    "python_bytes_in": acc.get(PY_SENT, 0.0),
                    "python_bytes_out": acc.get(PY_RECV, 0.0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0)),
                    "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                    "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)),
                })
    for t in tasks:
        jid = stage_job.get(t["stage"])
        t["job"] = jid
        if jid is not None:
            jobs[jid]["ran_stages"].add(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def _empty_agg() -> dict:
    agg = {k: 0.0 for k in TASK_SUMS}
    agg.update(jobs=0, stages=0, tasks=0, failed_tasks=0, wall_s=0.0)
    return agg


def _add_task(agg: dict, t: dict) -> None:
    agg["tasks"] += 1
    agg["failed_tasks"] += int(t["failed"])
    for k in TASK_SUMS:
        agg[k] += t[k]


def _owner(records: list[dict], ts: float) -> dict | None:
    """Innermost span instance open at time ts."""
    best = None
    for r in records:
        if r["start"] <= ts <= r["end"] and (best is None
                                             or r["start"] >= best["start"]):
            best = r
    return best


def attribute(log: dict, spans: list[dict], cores: int) -> dict[str, dict]:
    """Sum task metrics per span name. A job belongs to the span instance
    whose tag is its description; a job without one (started from a thread
    that did not inherit the description) belongs to the innermost span open
    at its submission time; anything else is "unattributed". idle_core_s is
    cores x the spans' wall minus the task run time inside them."""
    by_tag = {Spans.tag(r): r for r in spans}
    job_span: dict[int, str] = {}
    for jid, j in log["jobs"].items():
        rec = by_tag.get(j["desc"]) if j["desc"] else None
        if rec is None:
            rec = _owner(spans, j["submit"])
        job_span[jid] = rec["name"] if rec else "unattributed"
    out: dict[str, dict] = {}
    for r in spans:
        agg = out.setdefault(r["name"], _empty_agg())
        agg["wall_s"] += r["end"] - r["start"]
    for jid, name in job_span.items():
        agg = out.setdefault(name, _empty_agg())
        agg["jobs"] += 1
        agg["stages"] += len(log["jobs"][jid]["ran_stages"])
    for t in log["tasks"]:
        name = job_span.get(t["job"], "unattributed")
        _add_task(out.setdefault(name, _empty_agg()), t)
    for agg in out.values():
        agg["idle_core_s"] = max(0.0, cores * agg["wall_s"] - agg["run_s"])
    return out


def attribute_phases(log: dict, windows: list[tuple],
                     untagged: str = "shards") -> dict[str, dict]:
    """Sum task metrics per build phase: a task belongs to the phase window
    holding its midpoint, else to "unattributed". A task of a job without a
    description that falls inside a window belongs to `untagged` instead:
    eager build_index runs its shards job on a thread of its own, which does
    not inherit the span's description, concurrently with the encode and
    lexicon phases."""
    out: dict[str, dict] = {}
    for t in log["tasks"]:
        mid = (t["launch"] + t["finish"]) / 2.0
        name = next((p for p, t0, t1 in windows if t0 <= mid < t1),
                    "unattributed")
        job = log["jobs"].get(t["job"])
        if name != "unattributed" and job is not None and not job["desc"]:
            name = untagged
        _add_task(out.setdefault(name, _empty_agg()), t)
    return out


def total(aggs) -> dict:
    """Sum of several aggregates (e.g. every span of one workload)."""
    out = _empty_agg()
    for a in aggs:
        for k, v in a.items():
            if k in out:
                out[k] += v
    return out


# ------------------------------------------------------- driver profiling

MODULE_BUCKETS = (
    ("pisa_spark/operators/topk.py", "topk"),
    ("pisa_spark/operators/codecs.py", "codecs"),
    ("pisa_spark/functions/scoring.py", "scoring"),
    ("pisa_spark/functions/", "tokenize"),
    ("/py4j/", "py4j"),
    ("/pyspark/", "pyspark"),
)
BUCKETS = ("topk", "codecs", "scoring", "tokenize", "pyspark", "py4j", "other")
_STDLIB = sysconfig.get_paths()["stdlib"]


def bucket_of(filename: str) -> str:
    for frag, name in MODULE_BUCKETS:
        if frag in filename:
            return name
    return "other"


def is_library(filename: str) -> bool:
    """Builtins, the standard library and third-party packages: code whose
    time is charged to the engine or pyspark code that called it."""
    return (filename == "~" or filename.startswith("<")
            or "-packages/" in filename or filename.startswith(_STDLIB))


def self_time_by_bucket(stats: dict) -> dict[str, float]:
    """Driver self time by module bucket from a pstats ``stats`` dict
    ({func: (cc, nc, tt, ct, {caller: (nc, cc, tt, ct)})}).

    Self time of library code (a socket read under a py4j call, numpy under
    a kernel, pandas under createDataFrame) is charged up the call graph to
    the nearest bucketed caller, split over callers by the cumulative time
    each caller spent in it. pstats keeps caller edges, not whole stacks, so
    the split is an approximation where one library function serves several
    layers. Time that reaches no bucketed caller is "other"."""
    memo: dict = {}

    def share(func, depth: int) -> dict[str, float]:
        b = bucket_of(func[0])
        if b != "other" or not is_library(func[0]):
            return {b: 1.0}
        if func in memo:
            return memo[func]
        memo[func] = {"other": 1.0}  # cycle guard
        callers = stats[func][4] if func in stats else {}
        edges = [(c, e[3]) for c, e in callers.items() if e[3] > 0]
        tot = sum(w for _c, w in edges)
        res: dict[str, float] = {}
        if depth >= 16 or tot <= 0:
            res = {"other": 1.0}
        else:
            for c, w in edges:
                for cb, f in share(c, depth + 1).items():
                    res[cb] = res.get(cb, 0.0) + f * w / tot
        memo[func] = res
        return res

    out = dict.fromkeys(BUCKETS, 0.0)
    for func, (_cc, _nc, tt, _ct, _callers) in stats.items():
        for b, f in share(func, 0).items():
            out[b] += tt * f
    return out
