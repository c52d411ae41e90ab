"""Tests of the benchmark's own arithmetic and correctness accounting.

    python3 -m pytest perfbench/ -q

No Spark session is started: the event log is a hand-written file and
the workloads' checks are fed planted replies.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import estate  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402


# -- tail percentile ------------------------------------------------------

def test_tail_keeps_ten_samples_beyond_it():
    values = [float(v) for v in range(1, 101)]  # 1..100
    value, label = measure.tail(values)
    assert value == 90.0  # 91..100 lie beyond it
    assert sum(v > value for v in values) == measure.TAIL_BEYOND
    assert label == "p90.0"


def test_tail_percentile_moves_with_sample_count():
    value, label = measure.tail([float(v) for v in range(40)])
    assert value == 29.0 and label == "p75.0"


def test_tail_falls_back_to_max_below_twenty_samples():
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, "max")
    assert measure.tail([float(v) for v in range(19)]) == (18.0, "max")
    assert measure.tail([float(v) for v in range(20)])[1] == "p50.0"


def test_median_of_even_count():
    assert measure.median([4.0, 1.0, 3.0, 2.0]) == 2.5


# -- closed loop ----------------------------------------------------------

def test_closed_loop_ends_within_half_an_op_of_the_deadline(monkeypatch):
    clock = [0.0]
    monkeypatch.setattr(measure.time, "perf_counter", lambda: clock[0])
    calls = []

    def op(cost=4.0):
        calls.append(clock[0])
        clock[0] += cost

    measure.closed_loop(op, 10.0)  # 8 + 4/2 is not past 10, 12 + 2 is
    assert calls == [0.0, 4.0, 8.0]
    calls.clear()
    clock[0] = 0.0
    measure.closed_loop(lambda: op(7.0), 10.0)  # 7 + 3.5 is past 10
    assert calls == [0.0]
    calls.clear()
    measure.closed_loop(lambda: op(30.0), 10.0)  # always at least one
    assert len(calls) == 1


# -- driver gap -----------------------------------------------------------

def test_union_counts_overlapping_jobs_once():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]
    assert measure.union_length(jobs, 0.0, 10.0) == pytest.approx(4.0)


def test_union_clips_to_the_span():
    assert measure.union_length([(-5.0, 1.0), (9.0, 20.0)], 0.0, 10.0) == \
        pytest.approx(2.0)


def test_driver_gap_is_wall_minus_job_union():
    # nested and touching intervals: covered = [1, 5] only
    jobs = [(1.0, 5.0), (2.0, 3.0), (5.0, 5.0)]
    assert measure.driver_gap(0.0, 10.0, jobs) == pytest.approx(6.0)
    assert measure.driver_gap(0.0, 10.0, []) == pytest.approx(10.0)
    assert measure.driver_gap(0.0, 2.0, [(-1.0, 3.0)]) == 0.0


def test_event_log_cost_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 400,
                          "Executor CPU Time": 100_000_000,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 2 * 2**20}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # overlaps job 0; its stage 1 is listed again but ran in job 0
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1500,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9000},
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    log = measure.EventLog(str(path))
    cost = log.cost({"group": "g", "start": 0.5, "end": 5.0})
    assert cost["jobs"] == 2 and cost["tasks"] == 2
    assert cost["task_run_s"] == pytest.approx(0.5)
    assert cost["task_cpu_s"] == pytest.approx(0.1)
    assert cost["shuffle_mb"] == pytest.approx(2.0)
    assert cost["driver_gap_s"] == pytest.approx(4.5 - 3.0)
    assert measure.find_event_log(str(tmp_path)) == str(path)


# -- bytes written --------------------------------------------------------

def test_rewrite_ratio_counts_new_and_rewritten_files_only():
    before = {"resources/service=s3/a.parquet": (100, 1, 1),
              "resources/service=ec2/b.parquet": (300, 1, 2),
              "scan_metadata/c.parquet": (10, 1, 3)}
    after = {"resources/service=s3/d.parquet": (120, 2, 4),   # rewritten
             "resources/service=ec2/b.parquet": (300, 1, 2),  # untouched
             "scan_metadata/c.parquet": (10, 1, 3),
             "scan_metadata/e.parquet": (12, 2, 5)}           # appended
    assert measure.rewrite_ratio(before, after, "resources/") == \
        pytest.approx(120 / 420)
    assert measure.written(before, after) == (2, 132)
    assert measure.rewrite_ratio(after, after, "resources/") == 0.0
    assert measure.rewrite_ratio(before, {}, "resources/") == 0.0


def test_snapshot_sees_a_rewrite_in_place(tmp_path):
    f = tmp_path / "part=1" / "x.parquet"
    f.parent.mkdir()
    f.write_bytes(b"12345")
    (tmp_path / "_SUCCESS").write_bytes(b"")
    before = measure.snapshot(str(tmp_path))
    assert list(before) == [os.path.join("part=1", "x.parquet")]
    f.unlink()
    f.write_bytes(b"1234567")
    assert measure.written(before, measure.snapshot(str(tmp_path))) == (1, 7)


# -- correctness accounting -----------------------------------------------

def _result(ops):
    return {"checked": 0, "wrong": 0, "untraced": ops}


def test_planted_wrong_sql_answer_raises_failed_ratio():
    from sql_workload import SqlApi

    wl = SqlApi(None, "unused", 0, measure.Tracer(), False)
    reply = {"rows": [{"values": {"region": "us-east-1", "n": "7"}}],
             "execution_time_ms": 5}
    wl.pool = [("range", "SELECT ...", [{"region": "us-east-1", "n": "7"}])]
    good = _result([(0.1, wl._correct(0, reply))])
    assert measure.failed_ratio(*run.outcome(good)) == 0.0

    wl.pool = [("range", "SELECT ...", [{"region": "us-east-1", "n": "8"}])]
    bad = _result([(0.1, wl._correct(0, reply)), (0.1, True)])
    assert run.outcome(bad) == (2, 1)
    assert measure.failed_ratio(*run.outcome(bad)) == 0.5


def test_error_envelope_counts_as_wrong():
    from sql_workload import SqlApi

    wl = SqlApi(None, "unused", 0, measure.Tracer(), False)
    wl.pool = [("point", "SELECT ...", [])]
    assert not wl._correct(0, {"error": "Query execution failed: boom"})
    assert wl._correct(0, {"rows": []})


def test_planted_wrong_drift_count_fails_the_cycle():
    from audit import PACKS, Audit

    wl = Audit(None, "unused", 3, measure.Tracer())
    wl.controls = {"cfi/ccc-storage": 2, "cfi/s3-observability": 1,
                   "cfi/tag-hygiene": 1}
    est = estate.Estate(3, wl.regions, 2)
    total, s3 = est.total(), est.total(("s3",))
    rows = {"cfi/ccc-storage/a": s3, "cfi/ccc-storage/b": s3,
            "cfi/s3-observability/c": s3, "cfi/tag-hygiene/d": total}
    seen = {"cycle": 2, "total": total, "drift": est.drift_rows(),
            "rows": rows, "errors": []}
    assert set(PACKS) == set(wl.controls)
    assert wl.correct(seen)
    assert not wl.correct({**seen, "drift": seen["drift"] + 1})
    assert not wl.correct({**seen, "total": total - 1})
    assert not wl.correct({**seen, "rows": {**rows, "cfi/tag-hygiene/d": s3}})
    res = _result([(1.0, wl.correct({**seen, "drift": 0}))])
    assert measure.failed_ratio(*run.outcome(res)) == 1.0


# -- the seeded estate ----------------------------------------------------

def test_estate_is_seeded_and_mutates_between_cycles():
    regions = estate.regions(5, 4)
    assert regions == estate.regions(5, 4)
    a, b = estate.Estate(5, regions, 1), estate.Estate(5, regions, 2)
    assert a.total() <= b.total() <= a.total() + len(estate.SERVICES) * 4
    assert b.drift_rows() > 0
    items = list(b("ec2", regions[0]).get_paginator("describe_instances").paginate())
    assert sum(len(p["Reservations"]) for p in items) == b.count("ec2", regions[0])
    assert all(len(p["Reservations"]) <= estate.PAGE for p in items)
