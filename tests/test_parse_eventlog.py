"""benchkit/parse_eventlog.py on Spark 4 logs: a rolling ``eventlog_v2_*``
directory of zstd parts must be read, not silently summarized as zero
jobs and zero stages, and a log with no completed stage is an error."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from benchkit.parse_eventlog import main, summarize

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "benchkit", "parse_eventlog.py",
)

pytestmark = pytest.mark.skipif(shutil.which("zstd") is None, reason="no zstd binary")


def _stage(stage: int, t0: int, wall_ms: int) -> dict:
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage, "Stage Name": f"parquet at x\nline {stage}",
            "Number of Tasks": 4, "Submission Time": t0,
            "Completion Time": t0 + wall_ms,
        },
    }


def _write_zstd_part(path, events: list[dict]) -> None:
    raw = "".join(json.dumps(ev) + "\n" for ev in events).encode()
    subprocess.run(["zstd", "-q", "-o", str(path)], input=raw, check=True)


def _rolling_log(root, events_per_part: list[list[dict]]) -> None:
    d = root / "eventlog_v2_local-1"
    d.mkdir()
    (d / "appstatus_local-1").write_text("")
    for n, events in enumerate(events_per_part, start=1):
        _write_zstd_part(d / f"events_{n}_local-1.zstd", events)


def test_rolling_zstd_log_is_read(tmp_path):
    _rolling_log(tmp_path, [
        [
            {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
            _stage(0, 1000, 1500),
        ],
        [
            _stage(1, 2500, 500),
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
            {"Event": "SparkListenerApplicationEnd", "Timestamp": 4000},
        ],
    ])
    out = summarize(str(tmp_path))
    assert out["n_jobs"] == 1 and out["n_stages"] == 2
    assert out["job_wall_sum_s"] == 2.5 and out["stage_wall_sum_s"] == 2.0
    assert out["app_wall_s"] == 4.0
    assert out["by_name"] == {"parquet at x": 2.0}

    proc = subprocess.run(
        [sys.executable, SCRIPT, str(tmp_path)], capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr
    assert json.loads(proc.stdout)["n_stages"] == 2


def test_log_without_stages_exits_nonzero(tmp_path, capsys):
    _rolling_log(
        tmp_path, [[{"Event": "SparkListenerApplicationStart", "Timestamp": 0}]]
    )
    assert main([str(tmp_path)]) == 1
    assert "no completed stage events" in capsys.readouterr().err
