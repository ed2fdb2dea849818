import pytest

from statusstore import covered_s, op_layers, parse_metric, round_layers


def test_covered_merges_overlaps_and_clips_to_the_op():
    spans = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    assert covered_s(spans, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert covered_s([], 0.0, 5.0) == 0.0
    assert covered_s([(5.0, 6.0)], 0.0, 2.0) == 0.0


@pytest.mark.parametrize(
    "text, want",
    [("7.2 s", 7.2), ("344 ms", 0.344), ("2.0 m", 120.0), ("0 ms", 0.0),
     ("16.1 MiB", 16.1 * 1024**2 / 1e6), ("1640.0 B", 1640e-6),
     ("total (min, med, max (stageId: taskId))\n1.5 s (2 ms, 3 ms, 1.2 s (stage 3.0: task 7))", 1.5),
     ("", 0.0), ("12", 0.0)],
)
def test_parse_metric(text, want):
    assert parse_metric(text) == pytest.approx(want)


def _stage(sub_ms, done_ms, **kw):
    base = {"submissionTime": sub_ms, "completionTime": done_ms, "numTasks": 4,
            "executorRunTime": 1000, "executorCpuTime": 5e8, "jvmGcTime": 10,
            "shuffleWriteBytes": 2e6, "shuffleReadBytes": 1e6, "shuffleWriteTime": 1e8,
            "diskBytesSpilled": 0, "peakExecutionMemory": 3e6,
            "task_skew": 1.5}
    base.update(kw)
    return base


def test_op_layers_driver_gap_is_wall_not_under_any_stage():
    rec = {
        "t0": 100.0, "t1": 110.0, "jobs": 2,
        "stages": [_stage(101_000, 104_000), _stage(103_000, 105_000, task_skew=4.0),
                   _stage(108_000, 112_000, peakExecutionMemory=9e6)],
        "sql": [("time to run Python workers", "1.5 s"),
                ("data sent to Python workers", "2.0 MiB"),
                ("time to initialize Python workers", "200 ms"),
                ("time to start Python workers", "100 ms"),
                ("size of files read", "12.0 MiB"),
                ("number of output rows", "12")],
    }
    got = op_layers(rec)
    # covered: [101, 105] and [108, 110] -> 6 s of a 10 s op
    assert got["spark.driver_gap_s"] == pytest.approx(4.0)
    assert got["spark.stages"] == 3 and got["spark.tasks"] == 12
    assert got["spark.task_skew"] == 4.0
    assert got["spark.peak_exec_mb"] == pytest.approx(9.0)
    assert got["spark.executor_run_s"] == pytest.approx(3.0)
    assert got["spark.executor_cpu_s"] == pytest.approx(1.5)
    assert got["spark.shuffle_write_mb"] == pytest.approx(6.0)
    assert got["sources.read_mb"] == pytest.approx(12.0 * 1024**2 / 1e6)
    assert got["python.run_s"] == pytest.approx(1.5)
    assert got["python.init_s"] == pytest.approx(0.3)
    assert got["python.sent_mb"] == pytest.approx(2.0 * 1024**2 / 1e6)


def test_op_without_stages_is_all_gap():
    got = op_layers({"t0": 0.0, "t1": 2.5, "stages": [], "sql": []})
    assert got["spark.driver_gap_s"] == 2.5
    assert got["spark.task_skew"] == 1.0 and got["spark.peak_exec_mb"] == 0.0


def test_round_layers_sums_ops_but_maxes_skew_and_peak():
    a = {"t0": 0.0, "t1": 1.0, "jobs": 2, "stages": [_stage(0, 1000, task_skew=2.0)], "sql": []}
    b = {"t0": 1.0, "t1": 3.0, "jobs": 1,
         "stages": [_stage(1000, 2000, task_skew=5.0, peakExecutionMemory=1e6)], "sql": []}
    got = round_layers([a, b])
    assert got["spark.jobs"] == 3
    assert got["spark.stages"] == 2
    assert got["spark.task_skew"] == 5.0
    assert got["spark.peak_exec_mb"] == pytest.approx(3.0)
    assert got["spark.driver_gap_s"] == pytest.approx(1.0)
    assert got["spark.executor_run_s"] == pytest.approx(2.0)
