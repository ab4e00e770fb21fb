"""Interleaved fresh-JVM A/B benchmark: HEAD tree vs a base tree.

    git worktree add /tmp/ab_base <ref>
    python tools/ab_compare.py --base-path /tmp/ab_base --rounds 3 \
        dedup_substring scd2_merge ...

Protocol (the only measurement this host's bursty co-tenant noise
respects — r18: A/A on one tree reproduced 1.5-3x warm-rep scatter, so
single-sided runs are meaningless): each ROUND launches one fresh JVM
per side, alternating which side goes first, and times each row with
that side's ``bench.time_rows`` — the repo's one timing loop (warm-up,
then ``bench.REPS`` runs per row; ``bench.EXTRA`` rows such as
``stream_sessionize_stateful`` run through their hook).  Decisions read
the per-query MIN across rounds on each side (bursts only ever
inflate), plus the full rep lists for honesty.

The child process gets the side's tree FIRST on ``sys.path`` so engine
and bench code both come from that side.  A base tree must be at or
after the commit that introduced ``bench.time_rows``; older trees have
no such function.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

_CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from kusuma_metamorph_etl_spark.session import get_session
import bench
print("AB_RESULT " + json.dumps(bench.time_rows(get_session(), sys.argv[2], sys.argv[3:])))
"""


def run_side(side_path: str, sf_dir: str, names: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, side_path, sf_dir, *names],
        capture_output=True, text=True, cwd=side_path,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            return json.loads(line[len("AB_RESULT "):])
    raise RuntimeError(
        f"side {side_path} produced no result:\n{proc.stdout[-2000:]}"
        f"\n{proc.stderr[-2000:]}"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--base-path", required=True)
    ap.add_argument("--head-path", default=str(REPO))
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None, help="append JSON result here")
    args = ap.parse_args()

    acc: dict[str, dict[str, list[list[float]]]] = {
        q: {"head": [], "base": []} for q in args.queries
    }
    for rnd in range(args.rounds):
        order = (
            [("head", args.head_path), ("base", args.base_path)]
            if rnd % 2 == 0
            else [("base", args.base_path), ("head", args.head_path)]
        )
        for side, path in order:
            res = run_side(path, args.sf_dir, args.queries)
            for q, runs in res.items():
                acc[q][side].append(runs)
            print(f"round {rnd} {side}: "
                  + ", ".join(f"{q}={runs}" for q, runs in res.items()),
                  flush=True)

    summary = {}
    for q, sides in acc.items():
        h = [r for rnd in sides["head"] for r in rnd]
        b = [r for rnd in sides["base"] for r in rnd]
        summary[q] = {
            "head_min": min(h), "base_min": min(b),
            "head_med": sorted(h)[len(h) // 2],
            "base_med": sorted(b)[len(b) // 2],
            "ratio_min": round(min(h) / min(b), 3),
            "head": sides["head"], "base": sides["base"],
        }
        print(f"{q}: head_min={min(h)} base_min={min(b)} "
              f"ratio={summary[q]['ratio_min']}")
    if args.out:
        with open(args.out, "a") as fh:
            fh.write(json.dumps({"base_path": args.base_path,
                                 "summary": summary}) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
