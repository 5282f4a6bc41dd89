"""Self-test of the benchmark's own helpers (no Spark session needed):

    python3 -m pytest perfbench/test_measure.py -q

The event-log fixture is a trimmed, uncompressed Spark 4.1 log of two
spans: "outer" (a mapInPandas job, then a job submitted from a thread
that did not inherit the job description) and "inner" nested in it (a
mapInArrow job with a shuffle). Its span times are in the _spans file.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import measure as M

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "testdata")
LOG = os.path.join(DATA, "eventlog_tiny.jsonl")


def _spans():
    with open(os.path.join(DATA, "eventlog_tiny_spans.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ percentiles

def test_tail_level_needs_ten_samples_beyond():
    assert M.tail_level(9) is None
    assert M.tail_level(20) == 50.0
    assert M.tail_level(100) == 90.0
    assert M.tail_level(199) == 90.0
    assert M.tail_level(200) == 95.0
    assert M.tail_level(999) == 95.0
    assert M.tail_level(1000) == 99.0
    for n in range(1, 3000, 7):
        q = M.tail_level(n)
        if q is not None:
            assert M.samples_beyond(n, q) >= 10


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert M.percentile(vals, 50) == 50
    assert M.percentile(vals, 90) == 90
    assert M.percentile(vals, 99) == 99
    assert M.percentile([5.0], 99) == 5.0
    assert M.percentile(reversed(vals), 100) == 100
    with pytest.raises(ValueError):
        M.percentile([], 50)


# ------------------------------------------------------------------ spans

def test_spans_nest_and_tag_jobs():
    class FakeSC:
        def __init__(self):
            self.desc = []

        def setJobDescription(self, d):
            self.desc.append(d)

    sc = FakeSC()
    sp = M.Spans(sc)
    with sp.span("a"):
        with sp.span("b"):
            pass
        with sp.span("c", on=False):
            pass
    a, b = sp.records
    assert (a["parent"], b["parent"]) == (None, 0)
    assert a["start"] <= b["start"] <= b["end"] <= a["end"]
    assert sc.desc == ["a#0", "b#1", "a#0", None]
    off = M.Spans(sc, enabled=False)
    with off.span("x"):
        pass
    assert off.records == [] and len(sc.desc) == 4


def test_phase_windows_are_consecutive():
    w = M.phase_windows(100.0, {"url_cuts": 0.5, "tokenize_rank": 2.0,
                                "encode_postings": 1.0})
    assert w == [("url_cuts", 100.0, 100.5),
                 ("tokenize_rank", 100.5, 102.5),
                 ("encode_postings", 102.5, 103.5)]


# -------------------------------------------------------------- event log

def test_eventlog_totals():
    log = M.read_eventlog(LOG)
    assert len(log["jobs"]) == 6
    assert len(log["tasks"]) == 9
    tot = M.total([{k: t[k] for k in M.TASK_SUMS} for t in log["tasks"]])
    # Python-worker accumulators of the mapInPandas and mapInArrow stages
    assert tot["python_bytes_in"] == 4 * 4304
    assert tot["python_bytes_out"] == 4 * 4176
    assert tot["python_run_s"] == pytest.approx((3675 + 3430 + 946 + 958)
                                                / 1e3)
    assert tot["run_s"] == pytest.approx(sum(
        t["run_s"] for t in log["tasks"]))
    assert tot["shuffle_write_bytes"] == 59 * 4 + 133 * 2


def test_eventlog_attribution_by_tag_and_time():
    log = M.read_eventlog(LOG)
    by = M.attribute(log, _spans(), cores=2)
    # outer: its two tagged jobs plus the two untagged thread jobs, which
    # fall inside outer's window after inner closed
    assert by["outer"]["jobs"] == 4
    assert by["inner"]["jobs"] == 2
    assert "unattributed" not in by
    assert by["inner"]["python_bytes_in"] == 2 * 4304
    assert by["inner"]["shuffle_write_bytes"] == 2 * 133
    assert by["outer"]["tasks"] + by["inner"]["tasks"] == 9
    assert by["inner"]["python_run_s"] == pytest.approx(1.904)
    wall = by["inner"]["wall_s"]
    assert by["inner"]["idle_core_s"] == pytest.approx(
        2 * wall - by["inner"]["run_s"])


def test_eventlog_unmatched_jobs_are_unattributed():
    log = M.read_eventlog(LOG)
    late = [{"id": 0, "name": "later", "parent": None,
             "start": 4e9, "end": 4e9 + 1}]
    by = M.attribute(log, late, cores=2)
    assert by["unattributed"]["jobs"] == 6
    assert by["later"]["jobs"] == 0


def test_phase_attribution_by_task_midpoint():
    log = M.read_eventlog(LOG)
    inner = _spans()[1]
    # first phase ends just before the mapInArrow tasks (launched 1.2 s
    # after inner opened), the second covers the rest of the span
    windows = M.phase_windows(inner["start"], {
        "url_cuts": 1.0,
        "tokenize_rank": inner["end"] - inner["start"] - 1.0})
    ph = M.attribute_phases(log, windows)
    assert "url_cuts" not in ph
    assert ph["tokenize_rank"]["tasks"] == 3
    assert ph["tokenize_rank"]["python_bytes_out"] == 2 * 4176
    assert ph["unattributed"]["tasks"] == 6


def test_phase_attribution_sends_untagged_jobs_to_shards():
    log = M.read_eventlog(LOG)
    outer, inner = _spans()
    # the two untagged thread jobs run inside the second window by time,
    # as build_index's shards job runs inside encode_postings
    windows = M.phase_windows(outer["start"], {
        "tokenize_rank": inner["end"] - outer["start"],
        "encode_postings": outer["end"] - inner["end"]})
    ph = M.attribute_phases(log, windows)
    assert ph["tokenize_rank"]["tasks"] == 6
    assert ph["shards"]["tasks"] == 3
    assert "encode_postings" not in ph
    assert "unattributed" not in ph


# ------------------------------------------------------- driver profiling

def test_self_time_charges_library_code_to_its_callers():
    topk = ("/x/pisa_spark/operators/topk.py", 1, "_run_kernel")
    py4j = ("/x/site-packages/py4j/clientserver.py", 9, "send_command")
    sock = (M._STDLIB + "/socket.py", 5, "readinto")
    frame = ("/x/site-packages/pandas/core/frame.py", 3, "__init__")
    conv = ("/x/site-packages/pyspark/sql/pandas/conversion.py", 7, "create")
    bench = ("/x/perfbench/workloads.py", 2, "run_query")
    orphan = ("/x/site-packages/numpy/core/fromnumeric.py", 4, "sum")
    recv = ("~", 0, "<method 'recv_into' of '_socket.socket' objects>")
    stats = {
        topk: (1, 1, 0.5, 0.9, {}),
        py4j: (1, 1, 0.1, 0.5, {}),
        sock: (2, 2, 0.05, 0.45, {py4j: (2, 2, 0.05, 0.45)}),
        # recv: 3/4 of its time under py4j (via socket.py), 1/4 under topk
        recv: (3, 3, 0.4, 0.4, {sock: (2, 2, 0.3, 0.3),
                                topk: (1, 1, 0.1, 0.1)}),
        frame: (1, 1, 0.2, 0.2, {conv: (1, 1, 0.2, 0.2)}),
        conv: (1, 1, 0.02, 0.22, {}),
        bench: (1, 1, 0.03, 1.6, {}),
        orphan: (1, 1, 0.07, 0.07, {}),
    }
    got = M.self_time_by_bucket(stats)
    assert got["topk"] == pytest.approx(0.5 + 0.1)
    assert got["py4j"] == pytest.approx(0.1 + 0.05 + 0.3)
    assert got["pyspark"] == pytest.approx(0.2 + 0.02)
    assert got["other"] == pytest.approx(0.03 + 0.07)
    assert sum(got.values()) == pytest.approx(
        sum(v[2] for v in stats.values()))
    assert M.bucket_of("/x/pisa_spark/functions/tokenize.py") == "tokenize"
    assert M.bucket_of("/x/pisa_spark/functions/scoring.py") == "scoring"
    assert M.bucket_of("/x/pisa_spark/operators/codecs.py") == "codecs"
    assert M.bucket_of("/x/site-packages/pyspark/sql/session.py") == "pyspark"
    assert M.is_library(sock[0]) and M.is_library(frame[0])
    assert not M.is_library("/x/perfbench/workloads.py")


# ---------------------------------------------------------------- metrics

def test_metric_lists_match_benchmark_json():
    from perfbench import workloads as W

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == W.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == W.LAYER_UNITS
