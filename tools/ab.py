#!/usr/bin/env python3
"""Paired A/B of graftbench between a parent tree and a change tree.

Usage: ab.py PARENT_TREE CHANGE_TREE --workload W [--pairs 10]

Each tree is a checkout with its own `graftbench/` and `src/`. Build the
parent tree fresh from the parent commit, e.g.

    git worktree add /tmp/parent HEAD~1
    # or: mkdir /tmp/parent && git archive HEAD~1 | tar -x -C /tmp/parent

and not from a working checkout that has run other builds: a run from the
working checkout once read +22 % on a metric that a fresh copy of the same
commit did not reproduce.

Pair i (1..N) runs `python3 graftbench/run.py --workload W --seed i
--seconds S --trace 0` once in each tree, with S the `run_seconds` of
BENCHMARK.json, the same seed on both sides, and alternates which side runs
first (odd pairs start with the parent). A run that exits
non-zero, reports `correct: false` or has `failed > 0` is a failed run: it is
listed against its side, it counts as a loss for its side in every metric's
"better" tally, and the values it did report stay out of the quartiles.

For every end-to-end metric in BENCHMARK.json (read only: run length, names,
direction and bound) it prints each side's median and quartiles over its good runs,
the change's median delta in percent, the parent's IQR/median, "change better
in k/N" (ties count for neither side) and a verdict: "within bound", "WORSE"
(the change's median is worse than the parent's by more than the bound),
"unresolved" (the parent's own IQR/median exceeds the bound, so the runs
cannot tell) or "FAILED RUNS" (the change side failed a run). Exits 1 if any
verdict is WORSE or FAILED RUNS.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def quantile(xs, q):
    """Linear-interpolation quantile at q*(n-1) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def failure(run):
    """Why a run failed, or None. `run` is {"exit": int, "result": dict|None}."""
    res = run.get("result")
    if run.get("exit") != 0 or res is None:
        return f"exit {run.get('exit')}"
    if not res.get("correct", False):
        return "correct: false"
    if res.get("failed", 0) > 0:
        return f"failed {res['failed']}"
    return None


def summarize(pairs, metrics):
    """One row per metric from `pairs`, a list of (parent_run, change_run).

    `metrics` are BENCHMARK.json's end_to_end entries (name, better, bound).
    """
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {"parent": [], "change": []}
        better = 0
        for p, c in pairs:
            fp, fc = failure(p), failure(c)
            for side, run, f in (("parent", p, fp), ("change", c, fc)):
                if f is None:
                    vals[side].append(run["result"]["metrics"][name]["value"])
            if fp or fc:
                better += 1 if fp and not fc else 0
                continue
            a = p["result"]["metrics"][name]["value"]
            b = c["result"]["metrics"][name]["value"]
            better += 1 if (b < a if lower else b > a) else 0
        row = {"name": name, "unit": m.get("unit", ""), "bound": m["bound"],
               "better": better, "pairs": len(pairs),
               "parent_failed": sum(failure(p) is not None for p, _ in pairs),
               "change_failed": sum(failure(c) is not None for _, c in pairs)}
        for side in ("parent", "change"):
            xs = vals[side]
            row[side] = tuple(quantile(xs, q) for q in (0.25, 0.5, 0.75)) if xs else None
        row["delta"], row["parent_spread"] = None, None
        if row["parent"] and row["change"]:
            q1, med, q3 = row["parent"]
            cmed = row["change"][1]
            if med != 0:
                row["delta"] = (cmed - med) / abs(med)
                row["parent_spread"] = (q3 - q1) / abs(med)
            elif cmed == med:
                row["delta"], row["parent_spread"] = 0.0, 0.0
            else:
                row["delta"] = float("inf") if cmed > med else float("-inf")
                row["parent_spread"] = 0.0 if q1 == q3 else float("inf")
        worse = None if row["delta"] is None else (row["delta"] if lower else -row["delta"])
        if row["change_failed"]:
            row["verdict"] = "FAILED RUNS"
        elif worse is None or row["parent_spread"] > m["bound"]:
            row["verdict"] = "unresolved"
        elif worse > m["bound"]:
            row["verdict"] = "WORSE"
        else:
            row["verdict"] = "within bound"
        rows.append(row)
    return rows


def run_once(tree, workload, seed, seconds):
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    result = None
    for line in reversed(proc.stdout.splitlines()):
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if isinstance(rec, dict) and "metrics" in rec:
            result = rec
            break
    return {"exit": proc.returncode, "result": result, "stderr": proc.stderr[-2000:]}


def fmt(q):
    return "-" if q is None else f"{q[1]:.3f} [{q[0]:.3f}, {q[2]:.3f}]"


def pct(x, sign="+"):
    return "-" if x is None else f"{100 * x:{sign}.1f} %"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    trees = {"parent": args.parent, "change": args.change}
    pairs = []
    for seed in range(1, args.pairs + 1):
        order = ("parent", "change") if seed % 2 == 1 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_once(trees[side], args.workload, seed, seconds)
            why = failure(got[side])
            status = "ok" if why is None else f"FAILED ({why})"
            print(f"pair {seed}/{args.pairs} {side}: {status}", flush=True)
            if why is not None:
                sys.stderr.write(got[side]["stderr"])
        pairs.append((got["parent"], got["change"]))
    rows = summarize(pairs, metrics)
    print(f"\n{args.workload}: {args.pairs} pairs; failed runs: parent {rows[0]['parent_failed']}, "
          f"change {rows[0]['change_failed']}\n")
    print("| metric | parent median [q1, q3] | change median [q1, q3] | delta | parent IQR/median "
          "| change better | bound | verdict |")
    print("| --- | --- | --- | --- | --- | --- | --- | --- |")
    for r in rows:
        print(f"| `{r['name']}` ({r['unit']}) | {fmt(r['parent'])} | {fmt(r['change'])} | {pct(r['delta'])} "
              f"| {pct(r['parent_spread'], '')} | {r['better']}/{r['pairs']} | {100 * r['bound']:.0f} % "
              f"| {r['verdict']} |")
    sys.exit(1 if any(r["verdict"] in ("WORSE", "FAILED RUNS") for r in rows) else 0)


if __name__ == "__main__":
    main()
