"""Event-log reader: single files, rolling v2 directories, zstd parts and
truncated in-progress logs."""

from __future__ import annotations

import json
import shutil
import subprocess

import pytest

from crawlbench.eventlog import iter_events, log_files, read_stages


def _events(job: int, stage: int, desc: str | None, wall_ms: int) -> list[dict]:
    props = {"crawlbench.round": "2"}
    if desc:
        props["spark.job.description"] = desc
    info = {
        "Stage ID": stage, "Stage Name": "parquet at x", "Number of Tasks": 3,
        "Submission Time": 1000, "Completion Time": 1000 + wall_ms,
        "Accumulables": [
            {"ID": 1, "Name": "internal.metrics.input.bytesRead", "Value": 2048},
            {"ID": 2, "Name": "internal.metrics.shuffle.write.bytesWritten", "Value": "512"},
            {"ID": 3, "Name": "internal.metrics.diskBytesSpilled", "Value": 0},
            {"ID": 4, "Name": "number of output rows", "Value": "99"},
        ],
    }
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": [stage],
         "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
         "Properties": props},
        {"Event": "SparkListenerStageCompleted", "Stage Info": info},
    ]


def _write(path, events, tail: str = "") -> None:
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
        f.write(tail)


def test_single_plain_file(tmp_path):
    log = tmp_path / "local-123"
    _write(log, _events(0, 0, "extractions", 1500))
    (stage,) = read_stages(str(tmp_path))
    assert stage["wall_s"] == 1.5
    assert stage["tasks"] == 3
    assert stage["input_bytes"] == 2048
    assert stage["shuffle_write_bytes"] == 512
    assert stage["job_id"] == 0
    assert stage["props"]["spark.job.description"] == "extractions"


def test_in_progress_log_with_truncated_tail(tmp_path):
    _write(tmp_path / "local-9.inprogress", _events(1, 4, None, 250), tail='{"Event": "Spark')
    (stage,) = read_stages(str(tmp_path))
    assert stage["stage_id"] == 4 and stage["wall_s"] == 0.25


def test_rolling_parts_read_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-7"
    d.mkdir()
    _write(d / "events_10_local-7", _events(2, 2, "metrics", 100))
    _write(d / "events_2_local-7", _events(1, 1, "fetch_log", 100))
    (d / "appstatus_local-7").write_text("")
    files = log_files(str(tmp_path))
    assert [f.rsplit("/", 1)[1] for f in files] == ["events_2_local-7", "events_10_local-7"]
    assert [s["stage_id"] for s in read_stages(str(tmp_path))] == [1, 2]


@pytest.mark.skipif(shutil.which("zstd") is None, reason="no zstd binary")
def test_zstd_compressed_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-8"
    d.mkdir()
    plain = tmp_path / "plain"
    _write(plain, _events(3, 5, "seen_bloom", 700))
    subprocess.run(
        ["zstd", "-q", "-o", str(d / "events_1_local-8.zstd"), str(plain)], check=True
    )
    plain.unlink()
    (stage,) = read_stages(str(tmp_path))
    assert stage["props"]["spark.job.description"] == "seen_bloom"
    assert stage["wall_s"] == 0.7


def test_unsupported_codec_is_an_error(tmp_path):
    (tmp_path / "local-1.lz4").write_bytes(b"\x04\x22\x4d\x18")
    with pytest.raises(ValueError):
        list(iter_events(str(tmp_path)))
