"""Unit tests for the benchmark's own metric code (stats.py, tracing.py).

Run from the repository root:  python -m pytest perfbench -q
"""

import json

import pytest

import stats
import tracing

T0 = 1_700_000_000.0  # epoch seconds of the synthetic run


def test_tail_short_run_reports_the_median():
    value, pct, n = stats.tail([5.0, 1.0, 3.0, 2.0, 4.0])
    assert (value, pct, n) == (3.0, 50.0, 5)


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct, n = stats.tail(xs)
    assert n == 30
    assert sum(x > value for x in xs) == 10
    assert value == 20.0 and pct == pytest.approx(66.67)


def test_tail_never_below_median():
    # 21 samples: index n-11 = 10 is the median itself
    xs = [float(i) for i in range(21)]
    assert stats.tail(xs)[:2] == (10.0, 50.0)
    with pytest.raises(ValueError):
        stats.tail([])


def test_union_and_clipping():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert stats.union_length([]) == 0
    # jobs (0,4) and (8,12) seen through windows (2,5) and (9,10)
    assert stats.covered_by([(0, 4), (8, 12)], [(2, 5), (9, 10)]) == 3


def test_write_path_from_formatted_plan():
    plan = (
        "== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (8)\n"
        "+- WriteFiles (7)\n\n(8) Execute InsertIntoHadoopFsRelationCommand\n"
        "Input: []\nArguments: file:/r/rejects/nonfinite, false, [_batch_id#57], "
        "Parquet, [path=/r/rejects/nonfinite], Overwrite\n"
    )
    assert stats.write_path(plan) == "file:/r/rejects/nonfinite"
    assert stats.write_path("== Physical Plan ==\n* Project (1)\n") is None


def _events():
    """A five-job event log: two jobs in our op's group, one untagged job
    (a streaming query's own group) inside the op, one job inside the
    op's nested catalog span, one job outside every span."""
    ev = []

    def job(jid, start, end, group, sql=None, run_ms=(500,)):
        props = {"spark.jobGroup.id": group}
        if sql is not None:
            props["spark.sql.execution.id"] = str(sql)
        ev.append({"Event": "SparkListenerJobStart", "Job ID": jid,
                   "Submission Time": int((T0 + start) * 1e3),
                   "Stage IDs": [jid], "Properties": props})
        for ms in run_ms:
            ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": jid,
                       "Task Metrics": {"Executor Run Time": ms,
                                        "Executor CPU Time": ms * 10**6,
                                        "JVM GC Time": 1,
                                        "Input Metrics": {"Bytes Read": 2**20}}})
        ev.append({"Event": "SparkListenerJobEnd", "Job ID": jid,
                   "Completion Time": int((T0 + end) * 1e3)})

    job(1, 1, 3, "w.op.0", run_ms=(1000, 1500))
    job(2, 2, 4, "stream-run-id")  # untagged by us: attributed by time
    job(3, 7, 8, "w.op.0", sql=5)  # inside the nested catalog span
    job(4, 20, 21, None)  # outside every span
    ev.append({
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 5,
        "physicalPlanDescription": "(2) Execute InsertIntoHadoopFsRelationCommand\n"
        "Input: []\nArguments: file:/w/table, false, Parquet\n",
        "sparkPlanInfo": {"nodeName": "Scan", "children": [],
                          "metrics": [{"name": "number of files read", "accumulatorId": 77}]},
    })
    ev.append({"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
               "executionId": 5, "accumUpdates": [[77, 3], [78, 100]]})
    ev.append({"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
               "progress": {"timestamp": "2023-11-14T22:13:21.000Z", "batchId": 0,
                            "durationMs": {"triggerExecution": 1500},
                            "stateOperators": [{"numRowsTotal": 42}]}})
    return [json.dumps(e) for e in ev]


def _log():
    log = stats.EventLog()
    log.add_lines(_events())
    return log


SPANS = [
    {"id": 0, "name": "op", "layer": "relational", "group": "w.op.0",
     "start": T0, "end": T0 + 10, "parent": None},
    {"id": 1, "name": "catalog.sync", "layer": "catalog", "group": None,
     "start": T0 + 6, "end": T0 + 9, "parent": 0},
]


def test_event_log_parse():
    log = _log()
    assert sorted(j["id"] for j in log.finished_jobs()) == [1, 2, 3, 4]
    assert log.jobs[1]["start"] == T0 + 1 and log.jobs[1]["end"] == T0 + 3
    assert [t["run_ms"] for t in log.jobs[1]["tasks"]] == [1000, 1500]
    assert log.sql[5]["write_path"] == "file:/w/table"
    assert log.files_read(5) == 3  # accumulator 78 is not a file counter
    assert log.progress[0]["state_rows"] == 42


def test_jobs_go_to_the_innermost_span_of_their_call():
    log = _log()
    by_span = stats.attribute(log.finished_jobs(), SPANS)
    assert sorted(j["id"] for j in by_span[0]) == [1, 2]
    assert [j["id"] for j in by_span[1]] == [3]
    assert all(j["id"] != 4 for js in by_span.values() for j in js)


def test_driver_gap_is_self_time_minus_job_union():
    log = _log()
    by_span = stats.attribute(log.finished_jobs(), SPANS)
    windows = tracing._self_windows(SPANS[0], SPANS)
    assert windows == [(T0, T0 + 6), (T0 + 9, T0 + 10)]
    q = stats.job_summary(by_span[0], 7.0, windows)
    # jobs 1 (1..3 s) and 2 (2..4 s) overlap: 3 s busy of 7 s self time
    assert q["busy_s"] == pytest.approx(3.0)
    assert q["driver_gap_s"] == pytest.approx(4.0)
    assert q["busy_s"] + q["driver_gap_s"] == pytest.approx(q["time_s"])
    assert q["task_s"] == pytest.approx(3.0)  # 1.0 + 1.5 + 0.5
    assert q["eff_par"] == pytest.approx(3.0 / 7.0)
    assert q["max_task_share"] == pytest.approx(1.5 / 7.0)


def test_layer_metrics_split_catalog_from_its_caller():
    log = _log()
    tracer = tracing.Tracer(True)
    tracer.spans = SPANS
    out = tracing.layer_metrics(tracer, log, ctx={"setup": {}})
    assert out["relational.time_s"] == pytest.approx(7.0)
    assert out["relational.jobs"] == 2
    assert out["catalog.time_s"] == pytest.approx(3.0)
    assert out["catalog.jobs"] == 1
    assert out["catalog.driver_gap_s"] == pytest.approx(2.0)
    # a layer the run never called reads zero
    assert out["llmops.g02.time_s"] == 0 and out["pipeline.jobs"] == 0


def test_sync_share_counts_only_the_sync_inside_a_land():
    tracer = tracing.Tracer(True)
    tracer.spans = [
        {"id": 0, "name": "land", "layer": "pipeline", "group": "w.step.0",
         "start": T0, "end": T0 + 10, "parent": None},
        {"id": 1, "name": "catalog.read", "layer": "catalog", "group": None,
         "start": T0 + 1, "end": T0 + 2, "parent": 0},
        {"id": 2, "name": "catalog.sync", "layer": "catalog", "group": None,
         "start": T0 + 6, "end": T0 + 9, "parent": 0},
    ]
    out = tracing.layer_metrics(tracer, stats.EventLog(), ctx={"setup": {}})
    assert out["catalog.sync_s"] == pytest.approx(3.0)
    assert out["catalog.sync_share"] == pytest.approx(0.3)
    assert out["catalog.time_s"] == pytest.approx(4.0)  # sync and read
