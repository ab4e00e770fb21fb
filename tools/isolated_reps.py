"""Fresh-JVM isolated per-query benchmark (the VERDICT r7/r8 A/B
protocol, now a committed tool): one subprocess per query, each with its
own SparkSession, one warm-up query, then N timed reps — removes the
in-session cache/JIT interference `bench.py`'s shared session carries.

    python tools/isolated_reps.py scd2_merge stream_session --reps 5

Target selection is STRUCTURAL (r14 VERDICT Next #2) — ``--select``
computes the row set from committed artifacts instead of hand-picking:

    top-10 most expensive rows of the latest ``BENCH_r{N}.json``
    ∪ rows whose implementing code changed since the previous round
      (git diff hunks mapped to query-function line spans; changed
      operator/streaming/... modules mapped by reference scan)
    ∪ every in-session mover whose median moved >1.5x between ANY two
      consecutive ``BENCH_r{N}.json`` files (either direction) and has
      no BENCH_ISOLATED.json verdict at-or-after the delta's later
      round (r17: the driver's final bench lands after the round
      closes, so its movers are classifiable only next round — the
      unclassified sweep guarantees they surface then instead of
      aging out)

so a ">1.5x mover left unexplained" cannot fall outside the sidecar
again.  Queries-module hunks that land in no registered function span
(shared helpers, oracle macros) conservatively select every registered
row of that module (r17; the txt_quality_model label edit escape).  ``--classify-against BENCH_r13.json`` appends a NOISE /
REGRESSION verdict per row (isolated median vs that file's in-session
median, 1.2x threshold — the accepted r14 protocol).
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import re
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

_CHILD = r"""
import json, sys, time
name, sf_dir, reps = sys.argv[1], sys.argv[2], int(sys.argv[3])
from kusuma_metamorph_etl_spark import registry
from kusuma_metamorph_etl_spark.session import get_session
spark = get_session()
spark.sparkContext.setLogLevel("ERROR")
qs = registry.queries()
qs["agg_groupby_single"](spark, sf_dir).write.mode("overwrite").format("noop").save()
runs = []
for _ in range(reps):
    t0 = time.perf_counter()
    qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    runs.append(round(time.perf_counter() - t0, 3))
print("ISOLATED_RESULT " + json.dumps({"query": name, "reps": runs}))
"""


def _bench_files() -> list[tuple[int, pathlib.Path]]:
    out = []
    for p in REPO.glob("BENCH_r*.json"):
        m = re.search(r"_r(\d+)\.json$", p.name)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out)


def _bench_queries(path: pathlib.Path) -> dict[str, float]:
    d = json.loads(path.read_text())
    parsed = d.get("parsed") or d
    queries = parsed.get("queries")
    if queries is None:
        # Driver BENCH files from r14 on carry parsed=None with the raw
        # bench stdout (front-truncated) in "tail" — silently returning
        # {} here is what let the r15->r16 movers escape the r16 sidecar
        # (r16 VERDICT #2): movers and top-10 were computed from the last
        # PARSABLE round instead of the latest.  Recover the queries
        # object from the tail by brace matching.
        tail = d.get("tail") or ""
        m = re.search(r'"queries"\s*:\s*\{', tail)
        if m:
            depth, i = 1, m.end()
            while i < len(tail) and depth:
                if tail[i] == "{":
                    depth += 1
                elif tail[i] == "}":
                    depth -= 1
                i += 1
            if depth == 0:
                queries = json.loads(tail[m.end() - 1 : i])
    return {k: float(v) for k, v in (queries or {}).items()}


def _touched_rows(base_commit: str) -> set[str]:
    """Rows whose implementing code changed since ``base_commit``.

    Query-module hunks are mapped to the registered function whose
    source span contains them; a changed non-query engine module maps to
    every row whose function source references the module by name (the
    queries import operators as ``from ...operators import dedup`` and
    call ``dedup.x``, so a basename word-scan finds the users)."""
    import inspect

    diff = subprocess.run(
        ["git", "diff", "--unified=0", f"{base_commit}..HEAD", "--",
         "kusuma_metamorph_etl_spark/"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    # file -> list of (new_start, new_count)
    hunks: dict[str, list[tuple[int, int]]] = {}
    cur = None
    for line in diff.splitlines():
        if line.startswith("+++ b/"):
            cur = line[6:]
            hunks.setdefault(cur, [])
        elif line.startswith("@@") and cur:
            m = re.search(r"\+(\d+)(?:,(\d+))?", line)
            if m:
                hunks[cur].append((int(m.group(1)), int(m.group(2) or 1)))

    sys.path.insert(0, str(REPO))
    from kusuma_metamorph_etl_spark import registry

    qs = registry.queries()
    spans = {}  # name -> (file, first_line, last_line)
    sources = {}  # name -> source text
    for name, fn in qs.items():
        try:
            src, start = inspect.getsourcelines(fn)
            f = os.path.relpath(inspect.getsourcefile(fn), REPO)
            spans[name] = (f, start, start + len(src) - 1)
            sources[name] = "".join(src)
        except (OSError, TypeError):
            continue

    touched: set[str] = set()
    for f, ranges in hunks.items():
        if f.startswith("kusuma_metamorph_etl_spark/queries/"):
            in_span = False
            for name, (qf, lo, hi) in spans.items():
                if qf == f and any(lo <= s + max(c - 1, 0) and s <= hi
                                   for s, c in ranges):
                    touched.add(name)
                    in_span = True
            if not in_span:
                # r16 escape (VERDICT #2): a hunk in a queries module
                # that lands in NO registered span (module-level helper,
                # shared constant, oracle macro) still changes behavior
                # of rows in that module — conservatively select them
                # all (the headline intersection + cap bound the cost).
                touched.update(
                    name for name, (qf, _, _) in spans.items() if qf == f
                )
        else:
            mod = pathlib.Path(f).stem  # e.g. operators/dedup.py -> dedup
            pat = re.compile(rf"\b{re.escape(mod)}\b")
            for name, src in sources.items():
                if pat.search(src):
                    touched.add(name)
    return touched


def select_targets(verbose: bool = True, cap: int = 30) -> list[str]:
    """The structural target rule (module docstring).  Returns registered
    rows only, priority-ordered (movers, then top-10, then touched);
    prints each row's selection reason.

    Touched-code rows are intersected with ``bench.py``'s headline list:
    the sidecar explains BENCH drift, and a broad commit to a shared
    operator module (e.g. ``dedup``) otherwise fans out to every
    registered row that mentions it (a dry-run after one such commit
    selected 68 rows ≈ 2 h of fresh-JVM runs).  The ``cap`` bounds the
    total and the cut is PRINTED, never silent — movers and top-10 are
    never the ones cut."""
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    files = _bench_files()
    reasons: dict[str, list[str]] = {}
    if files:
        latest_round, latest_path = files[-1]
        latest = _bench_queries(latest_path)
        for name, _ in sorted(latest.items(), key=lambda kv: -kv[1])[:10]:
            reasons.setdefault(name, []).append("top10-expensive")
        # >1.5x movers from EVERY consecutive bench delta that still
        # lack a fresh-JVM verdict at-or-after the delta's later round
        # (r16 VERDICT #2: the mover set used to be computed only from
        # the delta visible mid-round, so movers minted by the DRIVER's
        # final BENCH_r{N}.json — which lands after the round closes —
        # escaped the sidecar; sweeping all deltas against
        # BENCH_ISOLATED closes them the round after they appear, and
        # a mover can never silently age out unclassified).
        closed_at: dict[str, int] = {}
        iso_path = REPO / "BENCH_ISOLATED.json"
        if iso_path.exists():
            for key, entry in json.loads(iso_path.read_text()).items():
                rnd = int(key.lstrip("r"))
                for name in entry.get("queries", {}):
                    closed_at[name] = max(closed_at.get(name, 0), rnd)
        for (prev_round, prev_path), (cur_round, cur_path) in zip(
            files, files[1:]
        ):
            if cur_round < 14:
                # pre-structural-select era (the protocol started with
                # the r14 verdict): those deltas were adjudicated
                # in-verdict, not via the sidecar — sweeping them would
                # resurface long-settled rounds.
                continue
            prev = _bench_queries(prev_path)
            cur = _bench_queries(cur_path)
            for name in set(cur) & set(prev):
                if prev[name] > 0:
                    r = cur[name] / prev[name]
                    if (r > 1.5 or r < 1 / 1.5) and closed_at.get(
                        name, -1
                    ) < cur_round:
                        reasons.setdefault(name, []).append(
                            f"unclassified mover {r:.2f}x "
                            f"r{prev_round}->r{cur_round}"
                        )
        base = subprocess.run(
            ["git", "log", "-1", "--format=%H", "--", latest_path.name],
            cwd=REPO, capture_output=True, text=True,
        ).stdout.strip()
        if base:
            try:
                import bench

                headline = set(bench.HEADLINE)
            except Exception:
                headline = None
            for name in _touched_rows(base):
                if headline is not None and name not in headline:
                    continue
                reasons.setdefault(name, []).append("touched-code")

    sys.path.insert(0, str(REPO))
    from kusuma_metamorph_etl_spark import registry

    registered = set(registry.queries())

    def rank(name: str) -> tuple[int, str]:
        rs = reasons[name]
        if any("mover" in r for r in rs):
            return (0, name)
        if "top10-expensive" in rs:
            return (1, name)
        return (2, name)

    ordered = sorted((n for n in reasons if n in registered), key=rank)
    targets, cut = ordered[:cap], ordered[cap:]
    if verbose:
        for name in targets:
            print(f"select {name}: {', '.join(reasons[name])}")
        if cut:
            print(f"(cap {cap} cut {len(cut)} touched-code rows: "
                  f"{', '.join(cut)})")
        dropped = sorted(n for n in reasons if n not in registered)
        if dropped:
            print(f"(unregistered, skipped: {', '.join(dropped)})")
    return targets


def isolated_baselines(exclude_round: int | None = None) -> dict[str, tuple[str, float]]:
    """Per query: ``(round_key, median)`` from the NEWEST
    ``BENCH_ISOLATED.json`` entry carrying that row (optionally excluding
    the round being recorded, so a re-run never compares to itself)."""
    path = REPO / "BENCH_ISOLATED.json"
    if not path.exists():
        return {}
    book = json.loads(path.read_text())
    out: dict[str, tuple[str, float]] = {}
    for key in sorted(book, key=lambda k: int(k.lstrip("r"))):
        if exclude_round is not None and key == f"r{exclude_round}":
            continue
        for name, entry in book[key].get("queries", {}).items():
            med = entry.get("median")
            if med:
                out[name] = (key, float(med))
    return out


def classify(results: dict, exclude_round: int | None = None) -> None:
    baselines = isolated_baselines(exclude_round)
    for name, r in sorted(results.items()):
        hit = baselines.get(name)
        if hit is None:
            r["verdict"] = "NO-ISOLATED-BASELINE"
            print(f"{name}: NO-ISOLATED-BASELINE (median {r['median']}s "
                  f"seeds the next comparison)")
            continue
        base_key, base = hit
        ratio = round(r["median"] / base, 2)
        r["vs_isolated"] = f"{ratio}x {base_key}"
        r["verdict"] = "NOISE" if ratio <= 1.2 else "REGRESSION"
        print(f"{name}: {r['verdict']} (isolated {r['median']}s = "
              f"{ratio}x of {base_key} isolated median {base}s)")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument(
        "--dry-run", action="store_true",
        help="print the target set and exit without timing anything",
    )
    ap.add_argument(
        "--select",
        action="store_true",
        help="add the structural target set (top-10 expensive ∪ touched "
        "∪ >1.5x movers) to the positional queries",
    )
    ap.add_argument(
        "--classify",
        action="store_true",
        help="append NOISE/REGRESSION verdicts vs each row's NEWEST "
        "prior BENCH_ISOLATED.json median (1.2x threshold) — isolated "
        "numbers only compare against isolated numbers; fresh-JVM "
        "medians run systematically slower than warm in-session bench "
        "medians, so classifying against a BENCH_r{N}.json would mint "
        "spurious REGRESSIONs on untouched sub-second rows (measured: "
        "2-3x apparent inflation purely from the channel switch). Rows "
        "with no prior isolated baseline get NO-ISOLATED-BASELINE and "
        "seed the next round's comparison.",
    )
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument(
        "--record",
        action="store_true",
        help="merge medians into the committed BENCH_ISOLATED.json sidecar",
    )
    ap.add_argument(
        "--record-round", type=int, default=0, help="round key for --record (r{N})"
    )
    args = ap.parse_args()
    if args.record and not args.record_round:
        ap.error("--record requires --record-round")
    queries = list(args.queries)
    if args.select:
        queries += [q for q in select_targets() if q not in queries]
    if not queries:
        ap.error("no queries given (pass names or --select)")
    if args.dry_run:
        print(json.dumps(queries))
        return 0
    if args.reps < 1:
        ap.error("--reps must be >= 1")
    results = {}
    for name in queries:
        # `python -c` puts the working directory first on sys.path, so
        # the child imports the engine from this checkout.
        proc = subprocess.run(
            [
                sys.executable, "-c", _CHILD,
                name, os.path.abspath(args.sf_dir), str(args.reps),
            ],
            capture_output=True,
            text=True,
            timeout=900,
            cwd=REPO,
        )
        line = next(
            (l for l in proc.stdout.splitlines() if l.startswith("ISOLATED_RESULT ")),
            None,
        )
        if line is None:
            print(f"{name}: FAILED\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        payload = json.loads(line[len("ISOLATED_RESULT "):])
        reps = payload["reps"]
        med = sorted(reps)[len(reps) // 2]
        results[name] = {"reps": reps, "median": med, "min": min(reps)}
        print(f"{name}: median={med} min={min(reps)} reps={reps}")
    if args.classify:
        classify(results, exclude_round=args.record_round or None)
    print(json.dumps(results))
    if args.record:
        _record(results, args.record_round, args.sf_dir)
    return 0


def _record(results: dict, round_no: int, sf_dir: str) -> None:
    """Merge this run into the committed ``BENCH_ISOLATED.json`` sidecar.

    ``BENCH_REPS.json`` is clobbered by every ``bench.py`` run, so the
    drift-classification evidence the judge audits (fresh-JVM medians per
    round) lives in its own append-only file keyed ``r{N}``."""
    import pathlib

    path = pathlib.Path(__file__).resolve().parent.parent / "BENCH_ISOLATED.json"
    book = json.loads(path.read_text()) if path.exists() else {}
    key = f"r{round_no}"
    entry = book.setdefault(key, {"sf_dir": sf_dir, "queries": {}})
    entry["queries"].update(results)
    path.write_text(json.dumps(book, indent=1, sort_keys=True) + "\n")
    print(f"recorded under {key} in {path}", file=sys.stderr)


if __name__ == "__main__":
    raise SystemExit(main())
