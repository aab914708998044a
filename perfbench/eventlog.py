"""Per-job-group stage metrics from Spark's own event log.

The benchmark tags every layer call with ``SparkContext.setJobGroup``
and runs the traced pass with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``. Spark 4.1 writes the log as a
rolling directory ``eventlog_v2_<app>/events_<n>_<app>`` of JSON lines:

* ``SparkListenerJobStart`` carries the job's stage ids and its local
  properties, among them ``spark.jobGroup.id``;
* ``SparkListenerStageCompleted`` carries the stage's task count and
  its ``internal.metrics.*`` accumulables.

A stage belongs to the group of the first job that lists it. Stages a
later job lists but skips (their shuffle output already exists) never
complete, so nothing is counted twice.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

# event-log accumulable -> (metric name, scale to the reported unit)
_ACCUMS = {
    "internal.metrics.executorRunTime": ("exec_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("exec_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / 2**20),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1 / 2**20),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1 / 2**20),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "internal.metrics.output.bytesWritten": ("output_mb", 1 / 2**20),
}
GROUP_FIELDS = (
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "output_mb",
    "tasks",
    "jobs",
)


def event_files(log_dir: str) -> list[str]:
    """The event files of every application logged under ``log_dir``,
    in write order (rolling index, then name)."""

    def key(path: str) -> tuple[int, str]:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (int(m.group(1)) if m else 0, path)

    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=key)


def group_metrics(lines) -> dict[str, dict[str, float]]:
    """{job group: {field: total}} over the given event-log lines.

    Jobs without a group are reported under ``""``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GROUP_FIELDS, 0.0))
    for line in lines:
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif '"SparkListenerStageCompleted"' in line:
            info = json.loads(line)["Stage Info"]
            m = out[stage_group.get(info["Stage ID"], "")]
            m["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                name = _ACCUMS.get(acc.get("Name"))
                if name is not None:
                    field, scale = name
                    m[field] += float(acc.get("Value") or 0) * scale
    return dict(out)


def read_group_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    def lines():
        for path in event_files(log_dir):
            with open(path, encoding="utf-8") as fh:
                yield from fh

    return group_metrics(lines())
