import os

import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_groups_from_captured_log():
    """The fixture is a local[2] run (job events and stage metrics kept):
    group alpha ran a groupBy (2 jobs), beta a repartition + Arrow map
    (3 jobs, one listing two stages it skipped), then two jobs ran
    with the group cleared."""
    files = eventlog.event_files(DATA)
    assert [os.path.basename(f) for f in files] == ["events_1_local-tiny"]
    g = eventlog.read_group_metrics(DATA)
    assert set(g) == {"alpha", "beta", ""}
    assert (g["alpha"]["jobs"], g["beta"]["jobs"], g[""]["jobs"]) == (2, 3, 2)
    assert (g["alpha"]["tasks"], g["beta"]["tasks"], g[""]["tasks"]) == (3, 6, 3)
    # executorRunTime is in ms, executorCpuTime in ns
    assert abs(g["alpha"]["exec_run_s"] - (0.814 + 0.130)) < 1e-9
    assert abs(g["alpha"]["exec_cpu_s"] - (443104122 + 108326509) / 1e9) < 1e-9
    assert abs(g["alpha"]["gc_s"] - 0.044) < 1e-9
    # every shuffle byte written in a group is read back in it
    for m in g.values():
        assert m["shuffle_write_mb"] > 0
        assert abs(m["shuffle_write_mb"] - m["shuffle_read_mb"]) < 1e-12
        assert m["spill_mb"] == 0


def test_skipped_stage_not_counted():
    lines = [
        '{"Event":"SparkListenerJobStart","Job ID":0,"Stage IDs":[0,1],"Properties":{"spark.jobGroup.id":"a"}}',
        '{"Event":"SparkListenerStageCompleted","Stage Info":{"Stage ID":0,"Number of Tasks":4,'
        '"Accumulables":[{"Name":"internal.metrics.executorRunTime","Value":1000}]}}',
        '{"Event":"SparkListenerStageCompleted","Stage Info":{"Stage ID":1,"Number of Tasks":1,'
        '"Accumulables":[{"Name":"internal.metrics.executorRunTime","Value":500}]}}',
        # a later job in another group lists stage 1 again and skips it
        '{"Event":"SparkListenerJobStart","Job ID":1,"Stage IDs":[1,2],"Properties":{"spark.jobGroup.id":"b"}}',
        '{"Event":"SparkListenerStageCompleted","Stage Info":{"Stage ID":2,"Number of Tasks":2,'
        '"Accumulables":[{"Name":"internal.metrics.executorRunTime","Value":250}]}}',
    ]
    g = eventlog.group_metrics(lines)
    assert (g["a"]["tasks"], g["a"]["exec_run_s"]) == (5, 1.5)
    assert (g["b"]["tasks"], g["b"]["exec_run_s"], g["b"]["jobs"]) == (2, 0.25, 1)
