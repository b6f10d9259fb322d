"""Spark event-log reader that works on Spark 4.1 logs.

Spark 4 writes ``<dir>/<app-id>[.zstd|.lz4|...][.inprogress]`` single
files, or — with rolling on — ``<dir>/eventlog_v2_<app-id>/`` holding
``events_<n>_<app-id>[.zstd]`` parts. The default codec is zstd, and
this interpreter has no ``zstandard`` module, so compressed parts are
piped through the ``zstd`` binary. Plain JSON-lines logs need nothing.

``read_stages`` returns one record per completed stage with the local
properties its job ran under (``spark.job.description`` and any
``crawlbench.*`` keys), its wall and its task metrics, which is what the
benchmark groups by catalog call and round.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
from collections.abc import Iterator

__all__ = ["log_files", "iter_events", "read_stages"]

_PART_RE = re.compile(r"^events_(\d+)_")
_CODECS = (".zstd", ".zst", ".lz4", ".snappy", ".lzf")


def log_files(path: str) -> list[str]:
    """Event-log files under ``path`` in write order. ``path`` may be a
    single log file, a rolling ``eventlog_v2_*`` directory, or a
    directory holding either."""
    if os.path.isfile(path):
        return [path]
    entries = sorted(os.listdir(path))
    parts = [e for e in entries if _PART_RE.match(e)]
    if parts:
        parts.sort(key=lambda e: int(_PART_RE.match(e).group(1)))
        return [os.path.join(path, e) for e in parts]
    out: list[str] = []
    for e in entries:
        full = os.path.join(path, e)
        if e.startswith("eventlog_v2_") and os.path.isdir(full):
            out.extend(log_files(full))
        elif os.path.isfile(full) and not e.startswith((".", "appstatus_")):
            out.append(full)
    return out


def _lines(path: str) -> Iterator[str]:
    name = path[: -len(".inprogress")] if path.endswith(".inprogress") else path
    codec = next((c for c in _CODECS if name.endswith(c)), None)
    if codec is None:
        with open(path, encoding="utf-8") as f:
            yield from f
        return
    if codec not in (".zstd", ".zst"):
        raise ValueError(f"unsupported event-log codec {codec!r} in {path}")
    zstd = shutil.which("zstd")
    if zstd is None:
        raise RuntimeError(f"{path} is zstd-compressed and no zstd binary is on PATH")
    # an in-progress log ends mid-frame: -q keeps what decoded cleanly
    proc = subprocess.run(
        [zstd, "-dcq", path], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        check=False,
    )
    yield from proc.stdout.decode("utf-8", errors="replace").splitlines()


def iter_events(path: str) -> Iterator[dict]:
    for f in log_files(path):
        for line in _lines(f):
            line = line.strip()
            if not line:
                continue
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue  # truncated tail of an in-progress log


def _num(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


_METRICS = {
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def read_stages(path: str) -> list[dict]:
    """Completed stages with their job's local properties and metrics."""
    props: dict[int, dict] = {}
    job_of_stage: dict[int, int] = {}
    stages: list[dict] = []
    for ev in iter_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            for sid in ev.get("Stage IDs", []):
                job_of_stage[sid] = ev["Job ID"]
                props.setdefault(sid, ev.get("Properties") or {})
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if ev.get("Properties"):
                props[sid] = ev["Properties"]
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub, done = si.get("Submission Time"), si.get("Completion Time")
            if not sub or not done:
                continue
            rec = {
                "stage_id": si["Stage ID"],
                "job_id": job_of_stage.get(si["Stage ID"]),
                "name": si.get("Stage Name", ""),
                "wall_s": (done - sub) / 1000.0,
                "tasks": si.get("Number of Tasks", 0),
                "props": props.get(si["Stage ID"], {}),
                **{v: 0 for v in _METRICS.values()},
            }
            for acc in si.get("Accumulables", []):
                key = _METRICS.get(acc.get("Name"))
                if key:
                    rec[key] += _num(acc.get("Value"))
            stages.append(rec)
    return stages
