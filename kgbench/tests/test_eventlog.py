"""The event-log parser over a small recorded log.

``data/eventlog_v2_local-small`` is a trimmed rolling log of a local[2]
application: job 0 writes a parquet file with no job group, jobs 1-3 read
and aggregate it under group ``scan``, jobs 4-5 run a pandas UDF under
group ``udf``, and job 6 counts a range after the group is cleared.
"""

import os
import shutil

import eventlog
from eventlog import Span

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_jobs_carry_groups_and_task_metrics():
    jobs = eventlog.read_jobs(DATA)
    assert [j.job_id for j in jobs] == list(range(7))
    assert [j.group for j in jobs] == [None, "scan", "scan", "scan", "udf", "udf", None]
    assert sum(j.tasks for j in jobs) == 10
    scan = jobs[2]
    assert scan.input_bytes == 937 and scan.shuffle_bytes == 563
    assert scan.peak_exec_bytes == 262144
    assert abs(scan.task_s - 0.329) < 1e-9 and abs(scan.gc_s - 0.022) < 1e-9
    # Python worker time comes only from the pandas-UDF stage
    assert abs(jobs[4].python_s - 1.73) < 1e-9
    assert all(j.python_s == 0 for j in jobs if j.job_id != 4)
    assert abs(jobs[4].wall_s - 1.056) < 1e-6


def test_rollup_by_group_then_by_span():
    jobs = eventlog.read_jobs(DATA)
    t0 = jobs[0].submit_s
    spans = [
        Span("scan", jobs[1].submit_s - 0.01, jobs[3].end_s, 0),
        Span("udf", jobs[4].submit_s - 0.01, jobs[5].end_s, 0),
        # job 6 has no group: the span open at its submission claims it
        Span("tail", jobs[6].submit_s - 0.01, jobs[6].end_s + 0.01, 0),
        Span("inner", jobs[6].submit_s - 0.005, jobs[6].end_s, 1),
    ]
    layers = ["scan", "udf", "tail", "inner"]
    per_layer, orphans = eventlog.rollup(jobs, spans, layers, cores=2)
    assert [j.job_id for j in orphans] == [0] and jobs[0].submit_s == t0
    assert per_layer["scan"]["jobs"] == 3 and per_layer["udf"]["jobs"] == 2
    assert per_layer["inner"]["jobs"] == 1 and per_layer["tail"]["jobs"] == 0
    assert abs(per_layer["udf"]["python_s"] - 1.73) < 1e-9
    assert abs(per_layer["scan"]["input_mb"] * eventlog.MB - 937) < 1e-6
    # self time: the nested span's duration is taken out of its parent
    tail = spans[2].end - spans[2].start - (spans[3].end - spans[3].start)
    assert abs(per_layer["tail"]["wall_s"] - tail) < 1e-9
    udf = per_layer["udf"]
    assert abs(udf["utilization"] - udf["task_s"] / (udf["wall_s"] * 2)) < 1e-12


def test_plain_file_log(tmp_path):
    src = os.path.join(DATA, "eventlog_v2_local-small", "events_1_local-small")
    shutil.copy(src, tmp_path / "local-small")
    jobs = eventlog.read_jobs(str(tmp_path))
    assert len(jobs) == 7 and jobs[4].group == "udf"
