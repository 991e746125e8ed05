#!/usr/bin/env python3
"""A/B comparison of two source states with the Janus user-path benchmark.

    python3 tools/perfbench_ab.py --workload hybrid_ingest --pairs 10 --parent HEAD~1
    python3 tools/perfbench_ab.py --workload hybrid_ingest --claim cpu_ms_per_op \
        --parent-dir /path/to/parent-checkout

Runs `perfbench/run.py` N times on each side, as N pairs, each run the
`run_seconds` of BENCHMARK.json long. The change side is this
checkout's working tree; the parent side is a detached `git worktree`
of `--parent` (removed afterwards) — `--parent HEAD` compares an
uncommitted change with its base — or, with `--parent-dir`, a checkout
of the parent that already exists (e.g. a `git archive` extract), used
as it is. Pair i uses seed `--seed0 + i` on
both sides, and the side that runs first alternates from pair to pair,
so drift of the host over a pair (the second run of a back-to-back pair
tends to be the slower one) cannot favour one side.

A run that exits non-zero, prints no result, reports `correct: false`
(a wrong answer, or run.py refusing a contended host or its time
budget) or has no metrics is a failed run; its pair is reported as
failed and kept out of every median and of the win count.

Prints, for every end-to-end metric in BENCHMARK.json, each side's
median and quartiles over the good pairs and the change's median
relative to the parent's next to the metric's bound; then, for the
claimed metric (`--claim`, default `op_ms_p50`; its win direction is
BENCHMARK.json's `better`), the per-pair values, the number of pairs
the change won,
and whether the gain rule holds: the change wins at least 9 of every
10 pairs run (a failed pair is not a win) and the medians differ by
more than the parent's interquartile range. The last stdout line is a
JSON summary. Each side builds itself on its first run (perfbench/run.py
caches the build in that checkout's `.bench_build/`).
"""

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if not xs:
        return math.nan, math.nan, math.nan
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout, workload, seconds, seed):
    """One perfbench run in `checkout`: (result, None), or (None, why)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    last = proc.stdout.strip().splitlines()[-1:] or [""]
    if proc.returncode != 0 or not last[0].startswith("{"):
        return None, f"exit {proc.returncode}, no result line"
    result = json.loads(last[0])
    if not result.get("correct") or not result.get("metrics"):
        return None, (f"correct {result.get('correct')}, "
                      f"{len(result.get('metrics') or {})} metrics")
    return result, None


def metric(result, name):
    v = result["metrics"].get(name)
    if isinstance(v, dict):
        v = v.get("value")
    return float("nan") if v is None else float(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--parent", default="HEAD~1",
                    help="git revision of the parent side (default HEAD~1)")
    ap.add_argument("--parent-dir",
                    help="an existing checkout of the parent side, used "
                         "instead of a worktree of --parent")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--claim", default="op_ms_p50",
                    help="end-to-end metric the gain rule is checked on "
                         "(default op_ms_p50)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    if args.claim not in e2e:
        ap.error(f"--claim {args.claim}: not an end-to-end metric of "
                 f"BENCHMARK.json ({', '.join(e2e)})")
    claimed = args.claim

    if args.parent_dir:
        worktree = None
        parent = os.path.abspath(args.parent_dir)
    else:
        worktree = tempfile.mkdtemp(prefix="perfbench-parent-")
        os.rmdir(worktree)
        subprocess.run(["git", "worktree", "add", "--detach", worktree,
                        args.parent], cwd=ROOT, check=True,
                       stdout=subprocess.DEVNULL)
        parent = worktree
    sides = {"parent": parent, "change": ROOT}
    good = []    # (parent result, change result) per good pair
    failed = []  # (seed, side, why) per failed run
    try:
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {}
            for side in order:
                r, why = run_once(sides[side], args.workload, seconds, seed)
                if r is None:
                    failed.append((seed, side, why))
                    log(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                        f"FAILED ({why})")
                    continue
                pair[side] = r
                log(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                    f"{claimed} {metric(r, claimed):.4g}, "
                    f"failed {r.get('failed')}/{r.get('attempted')}")
            if len(pair) == 2:
                good.append((pair["parent"], pair["change"]))
    finally:
        if worktree:
            subprocess.run(["git", "worktree", "remove", "--force",
                            worktree], cwd=ROOT, stdout=subprocess.DEVNULL)

    print(f"{args.workload}: {args.pairs} pairs ({len(good)} good), "
          f"{seconds} s runs, first side alternating "
          f"(parent {args.parent_dir or args.parent})")
    for seed, side, why in failed:
        print(f"failed run: seed {seed} {side} ({why})")
    print(f"{'metric':<20} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
          f"{'change/parent':>14} {'bound':>6}")
    summary = {}
    for name, m in e2e.items():
        qs = [quartiles([metric(pair[s], name) for pair in good])
              for s in (0, 1)]
        rel = qs[1][1] / qs[0][1] if qs[0][1] else math.nan
        worse = rel - 1 if m["better"] == "lower" else 1 - rel
        flag = "  WORSE than bound" if worse > m["bound"] else ""
        print(f"{name:<20} " + " ".join(
            f"{'/'.join(f'{v:.4g}' for v in q):>28}" for q in qs) +
            f" {rel:>14.3f} {m['bound']:>6}{flag}")
        summary[name] = {"parent": qs[0], "change": qs[1], "ratio": rel,
                         "beyond_bound": bool(flag)}

    lower = e2e[claimed]["better"] == "lower"
    pa = [metric(p, claimed) for p, _ in good]
    ch = [metric(c, claimed) for _, c in good]
    wins = sum((c < p) if lower else (c > p) for p, c in zip(pa, ch))
    need = math.ceil(0.9 * args.pairs)
    q1, med_p, q3 = quartiles(pa)
    med_c = quartiles(ch)[1]
    apart = abs(med_c - med_p) > (q3 - q1)
    better = (med_c < med_p) if lower else (med_c > med_p)
    print(f"\n{claimed} per good pair (parent -> change): " +
          ", ".join(f"{p:.4g}->{c:.4g}" for p, c in zip(pa, ch)))
    print(f"change won {wins} of {args.pairs} pairs (need {need}); "
          f"medians {med_p:.4g} -> {med_c:.4g}, parent IQR {q3 - q1:.4g}")
    failed_ops = {s: sum(pair[i].get("failed", 0) for pair in good)
                  for i, s in enumerate(("parent", "change"))}
    print(f"failed operations in good pairs: parent {failed_ops['parent']}, "
          f"change {failed_ops['change']}; failed runs: {len(failed)}")
    holds = wins >= need and apart and better
    print(f"gain rule {'HOLDS' if holds else 'does NOT hold'}")
    print(json.dumps({"workload": args.workload, "pairs": args.pairs,
                      "good_pairs": len(good), "metric": claimed,
                      "wins": wins, "needed": need,
                      "median_parent": med_p, "median_change": med_c,
                      "parent_iqr": q3 - q1, "gain_holds": holds,
                      "failed_runs": [list(f) for f in failed],
                      "failed_operations": failed_ops,
                      "end_to_end": summary}))


if __name__ == "__main__":
    main()
