"""The event-log reader on a small captured Spark 4 log: one job tagged
``outer`` (level 0), one started inside a nested ``inner`` tag (level 1)
and one untagged job, which the reader must ignore."""

import json
import os

from perfbench.trace import read_events, summarize, tag_name

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_v2_small")


def test_work_is_summed_per_innermost_tag():
    work = summarize(read_events(LOG))
    assert set(work) == {"outer", "inner"}
    outer, inner = work["outer"], work["inner"]
    assert (outer["jobs"], outer["stages"], outer["tasks"]) == (1, 2, 4)
    assert (inner["jobs"], inner["stages"], inner["tasks"]) == (1, 2, 3)
    assert outer["shuffle_write_bytes"] == 266 and inner["shuffle_write_bytes"] == 118
    assert outer["shuffle_read_bytes"] == 266
    assert outer["executor_cpu_ms"] > 0 and outer["executor_run_ms"] > 0


def test_untagged_streaming_jobs_are_labelled_by_job_group(tmp_path):
    group = {"spark.jobGroup.id": "run-1", "spark.job.tags": ""}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": group},
        {"Event": "SparkListenerStageSubmitted", "Properties": group, "Stage Info": {"Stage ID": 7}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task Metrics": {"Executor CPU Time": 2_000_000, "Executor Run Time": 3,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}},
        # a kernel call inside the batch tags its job one level deeper
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Properties": dict(group, **{"spark.job.tags": tag_name("ps.kernel", 1)})},
    ]
    path = tmp_path / "events_1_x"
    path.write_text("\n".join(json.dumps(e) for e in events) + '\n{"Event": "torn')
    work = summarize(read_events(str(path)), {"run-1": "streaming.online_ps"})
    assert work["streaming.online_ps"] == {
        "jobs": 1, "stages": 1, "tasks": 1, "executor_run_ms": 3, "executor_cpu_ms": 2.0,
        "shuffle_write_bytes": 10, "shuffle_read_bytes": 0, "spill_bytes": 0,
    }
    assert work["ps.kernel"] == {"jobs": 1}
    assert summarize(read_events(str(path))) == {"ps.kernel": {"jobs": 1}}
