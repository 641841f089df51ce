"""The event-log reader on a tiny recorded log: five jobs in two job
groups (a noop write, then a collect through a grouped pandas UDF)."""

from pathlib import Path

import pytest

import eventlog

LOG = Path(__file__).parent / "data" / "tiny_eventlog.jsonl"


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def test_jobs_carry_group_sql_id_and_call_site(log):
    assert sorted(log.jobs) == [0, 1, 2, 3, 4]
    assert {j.group for j in log.jobs.values()} == {"pb-1", "pb-2"}
    assert log.jobs[3].sql_id == 1 and log.jobs[0].sql_id is None
    assert log.jobs[4].call_site.startswith("collect at rove_spark/plans/engine.py")
    assert all(j.end is not None and j.end >= j.submit for j in log.jobs.values())


def test_skipped_stage_charged_to_first_job(log):
    # job 2 lists stages 2 and 3; stage ids are charged to the first job only
    assert log.stage_job[2] == 2 and log.stage_job[3] == 2
    assert len(log.tasks_of(log.jobs_in({"pb-1"}))) == 3
    assert len(log.tasks_of(log.jobs_in({"pb-2"}))) == 2


def test_op_totals(log):
    jobs = list(log.jobs.values())
    start, end = jobs[0].submit - 1.0, jobs[-1].end + 1.0
    t = eventlog.op_totals(log, {"pb-1", "pb-2"}, start, end, cores=4)
    assert t["jobs"] == 5 and t["tasks"] == 5
    assert t["input_records"] == 2 * 2595
    assert t["shuffle_bytes"] == 162 + 53985
    assert t["data sent to Python workers"] == 129360
    assert t["number of files read"] == 2
    busy = sum(t2.finish - t2.launch for t2 in log.tasks)
    assert t["core_busy_frac"] == pytest.approx(busy / (4 * (end - start)))
    job_time = sum(j.end - j.submit for j in jobs)  # the five jobs do not overlap
    assert t["driver_gap_s"] == pytest.approx((end - start) - job_time)
    # probe time excluded from the wall clock
    t2 = eventlog.op_totals(log, {"pb-1"}, start, end, cores=4, excluded=[(start, start + 1.0)])
    assert t2["jobs"] == 3 and t2["number of files read"] == 1
    busy1 = sum(x.finish - x.launch for x in log.tasks_of(log.jobs_in({"pb-1"})))
    assert t2["core_busy_frac"] == pytest.approx(busy1 / (4 * (end - start - 1.0)))


def test_call_site_and_skew(log):
    secs = eventlog.job_seconds(log, {"pb-2"}, "rove_spark/plans/engine.py")
    assert secs == pytest.approx(sum(log.jobs[i].end - log.jobs[i].submit for i in (3, 4)))
    assert eventlog.job_seconds(log, {"pb-1"}, "rove_spark/plans/engine.py") == 0
    assert eventlog.stage_skew(log, {"pb-2"}, "data sent to Python workers") == [1.0]
