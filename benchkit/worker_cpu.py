"""CPU of the Python workers under Spark, summed from ``/proc``.

    python benchkit/worker_cpu.py tasks [--repo DIR]
    python benchkit/worker_cpu.py crawlbench --workload link_growth --seed 14 [--repo DIR]

``tasks`` times an identity ``mapInPandas`` over 400 rows, written to
the ``noop`` sink at ``local[4]``, at 1 / 4 / 8 / 32 tasks, two passes
each after one warm-up write, and prints worker CPU and wall per write.
``crawlbench`` runs ``crawlbench/run.py --trace 0`` in this process and
prints the worker CPU of each round it runs. ``--repo`` is the checkout
whose package (and crawlbench) is measured, so a second checkout gives
the before of a change.

Worker CPU is the summed user + system time of every Python process
below the driver JVM: the daemon and the workers it forks. A worker
that exits takes its CPU with it (the daemon ignores SIGCHLD, so no
parent collects it), but reused workers stay up between tasks.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def worker_cpu_s() -> float:
    """CPU seconds of the Python processes below this process's JVM."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        stats[int(entry)] = [comm.split("(", 1)[1], *fields]
        kids.setdefault(int(fields[1]), []).append(int(entry))
    ticks, stack = 0, list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        st = stats.get(pid)
        if st and st[0].startswith("python"):
            ticks += int(st[12]) + int(st[13])  # utime stime
    return ticks / os.sysconf("SC_CLK_TCK")


def identity_tasks() -> list[dict]:
    from web_scraper_spark.session import get_spark

    spark = get_spark(
        master="local[4]", shuffle_partitions=4, app_name="worker-cpu",
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )

    def identity(batches):
        yield from batches

    def write(tasks: int) -> dict:
        df = spark.range(400, numPartitions=tasks).mapInPandas(identity, "id long")
        c0, t0 = worker_cpu_s(), time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return {"tasks": tasks, "worker_cpu_s": round(worker_cpu_s() - c0, 3),
                "wall_s": round(time.monotonic() - t0, 3)}

    try:
        write(4)
        return [write(n) for n in (1, 4, 8, 32) for _ in range(2)]
    finally:
        spark.stop()


def crawlbench_rounds(workload: str, seed: int) -> list[dict]:
    from crawlbench import run as cb

    rounds: list[dict] = []
    timed = cb.Crawl._round

    def _round(self, r):
        c0 = worker_cpu_s()
        wall, cpu, stats = timed(self, r)
        rounds.append({"round": r, "worker_cpu_s": round(worker_cpu_s() - c0, 3),
                       "round_cpu_s": round(cpu, 3), "wall_s": round(wall, 3)})
        return wall, cpu, stats

    cb.Crawl._round = _round
    cb.main(["--workload", workload, "--seed", str(seed), "--seconds", "5", "--trace", "0"])
    return rounds


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("tasks", "crawlbench"))
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--workload", default="link_growth")
    ap.add_argument("--seed", type=int, default=14)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.repo))
    if args.mode == "tasks":
        out = identity_tasks()
    else:
        out = crawlbench_rounds(args.workload, args.seed)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
