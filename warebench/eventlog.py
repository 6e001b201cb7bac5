"""Per-op dispatch, scan, shuffle, CPU and GC counts from Spark's event log.

The traced run starts Spark with a plain-JSON event log (one JSON object a
line: ``spark.eventLog.compress=false``, rolling off) and sets each op's
job description to ``warebench op=<id>`` before calling the engine. This
module attributes every job, stage and task of the log to the op whose
description launched it.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

OP_DESCRIPTION = "warebench op={}"
_OP_RE = re.compile(r"warebench op=(\d+)")

#: The counters kept per op; ``*_s`` are seconds.
FIELDS = [
    "jobs", "stages", "tasks", "failed_tasks",
    "scan_bytes", "scan_rows", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "task_cpu_s", "task_run_s", "gc_s",
]


def parse(lines) -> dict[int, dict[str, float]]:
    """Counters per op id from an iterable of event-log lines. Jobs
    without a ``warebench op=`` description (set-up, warm-up, the
    benchmark's own bookkeeping) are left out."""
    ops: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    stage_op: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            m = _OP_RE.search(props.get("spark.job.description") or "")
            if m is None:
                continue
            op = int(m.group(1))
            ops[op]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = op
        elif kind == "SparkListenerStageCompleted":
            op = stage_op.get(ev["Stage Info"]["Stage ID"])
            if op is not None:
                ops[op]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev.get("Stage ID"))
            if op is None:
                continue
            rec = ops[op]
            rec["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                rec["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            inp = m.get("Input Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            rec["scan_bytes"] += inp.get("Bytes Read", 0)
            rec["scan_rows"] += inp.get("Records Read", 0)
            rec["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            rec["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                          + rd.get("Local Bytes Read", 0))
            rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return dict(ops)


def parse_file(path: str) -> dict[int, dict[str, float]]:
    with open(path) as fh:
        return parse(fh)
