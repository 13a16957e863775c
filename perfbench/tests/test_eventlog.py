import os
import shutil

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.json")


def test_summarize_groups_task_metrics_by_job_description():
    groups = eventlog.summarize(eventlog.read_events(FIXTURE))
    g = groups["w:warm0"]
    assert g["jobs"] == 1
    assert g["stages"] == 2  # stage 5 was skipped: no StageCompleted
    assert g["tasks"] == 2
    assert g["executor_run_s"] == pytest.approx(0.3)
    assert g["executor_cpu_s"] == pytest.approx(0.15)
    assert g["jvm_gc_s"] == pytest.approx(0.01)
    # (230 - 110 - 100) + (450 - 240 - 200) ms
    assert g["task_overhead_s"] == pytest.approx(0.03)
    assert g["shuffle_write_mib"] == pytest.approx(2.0)
    assert g["shuffle_read_mib"] == pytest.approx(2.0)
    assert g["spill_mib"] == pytest.approx(3.0)
    assert g["peak_exec_mem_mib"] == pytest.approx(4.0)
    assert g["output_mib"] == pytest.approx(5.0)
    assert g["py_sent_mib"] == pytest.approx(1.0)
    assert g["py_returned_mib"] == pytest.approx(2.0)
    assert g["py_boot_s"] == pytest.approx(0.03)
    assert g["py_init_s"] == pytest.approx(0.04)
    assert g["py_run_s"] == pytest.approx(0.08)
    assert g["exchanges"] == 3  # the final adaptive plan, not the initial one
    assert sorted(g["intervals"]) == [(1000.0, 1000.6), (1000.1, 1000.5)]


def test_untagged_jobs_and_unknown_stages_stay_apart():
    groups = eventlog.summarize(eventlog.read_events(FIXTURE))
    assert set(groups) == {"w:warm0", ""}
    assert groups[""]["tasks"] == 1  # the task of stage 42 belongs to no job


def test_rolling_log_directory_is_read_in_index_order(tmp_path):
    lines = open(FIXTURE).read().splitlines(keepends=True)
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_2_local-1").write_text("".join(lines[7:]))
    (app / "events_1_local-1").write_text("".join(lines[:7]))
    (app / "appstatus_local-1").write_text("")
    assert eventlog.event_files(str(tmp_path))[0].endswith("events_1_local-1")
    assert eventlog.summarize(eventlog.read_events(str(tmp_path))) == eventlog.summarize(
        eventlog.read_events(FIXTURE)
    )


def test_directory_with_two_applications_is_refused(tmp_path):
    shutil.copy(FIXTURE, tmp_path / "app-1")
    shutil.copy(FIXTURE, tmp_path / "app-2")
    with pytest.raises(ValueError):
        eventlog.event_files(str(tmp_path))
