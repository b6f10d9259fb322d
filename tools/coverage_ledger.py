"""Regenerate COVERAGE.md's per-entry driver-check ledger from the
CORRECTNESS_r0N.json history + the current __spark_entry__ registration
order. Run after reordering the battery or when a new round's
correctness file lands:

    python tools/coverage_ledger.py [--round N]

``--round N`` labels the in-window expectation column and caps the
history read (default: the newest ``CORRECTNESS_r0N.json`` on disk).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # driver checks ~the first 50 queries() entries per round

# entries whose operator code changed AFTER their last green driver row
# (their old rows no longer vouch) -> annotated into the next round's
# rotation queue even though they hold a historical green row
STALE_GREEN = {
    "cosine_topk", "dedup_embedding_neardup", "ann_lsh_topk",
    "ann_ivf_topk", "robots_filter", "politeness_budget",
}


def latest_round(directory: str) -> int:
    """Largest N for which ``CORRECTNESS_r0N.json`` exists in directory."""
    return max(
        int(m.group(1))
        for f in os.listdir(directory)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=latest_round(REPO))
    args = ap.parse_args()

    hist: dict[str, list[int]] = {}
    for r in range(1, args.round + 1):
        path = os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")
        if not os.path.exists(path):
            continue
        for name, row in json.load(open(path)).items():
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            )
            if ok:
                hist.setdefault(name, []).append(r)

    spec = importlib.util.spec_from_file_location(
        "e", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    names = list(mod.queries())

    rows = []
    nxt = args.round + 1
    for i, n in enumerate(names):
        rnds = hist.get(n, [])
        last = f"r{max(rnds)}" if rnds else "never"
        if i < WINDOW:
            window = f"in window (expected r{args.round})"
        elif not rnds or n in STALE_GREEN:
            # no green row ever, or the operator changed after its last
            # green row (STALE_GREEN below) -> front of next rotation
            window = f"past window (r{nxt} queue)"
        else:
            window = f"past window (green {last})"
        rows.append(f"| {i} | `{n}` | {last} | {window} |")
    ledger = "\n".join(rows)

    cov_path = os.path.join(REPO, "COVERAGE.md")
    text = open(cov_path).read()
    pat = re.compile(
        r"(\| pos \(r\d\) \| battery entry \| last green driver round \| r\d window \|\n"
        r"\|---\|---\|---\|---\|\n)(\|.*\n)+"
    )
    header = (
        f"| pos (r{args.round}) | battery entry | last green driver round "
        f"| r{args.round} window |\n|---|---|---|---|\n"
    )
    new, cnt = pat.subn(header + ledger + "\n", text)
    if cnt != 1:
        print(f"ledger block not found (matches: {cnt})", file=sys.stderr)
        return 1
    open(cov_path, "w").write(new)
    print(f"wrote {len(rows)} ledger rows to COVERAGE.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
