"""Paired A/B runs of the benchmark: parent commit vs change.

Usage:
    python tools/ab.py <parent> <change> --workload <name> --seeds 601 602 ...

Each of ``<parent>`` and ``<change>`` is a commit (checked out into a
temporary ``git worktree``, removed at exit) or the path of an existing
checkout, used as it is.  For every seed the tool runs

    python3 perfbench/run.py --workload <name> --seed <seed> --seconds 6 --trace 0

once in each checkout, one pair per seed, alternating which side runs
first (even pairs parent first, odd pairs change first).  It then
prints, for each end-to-end metric of the change's ``BENCHMARK.json``,
each side's median and quartiles, the change/parent ratio of the
medians, and the pairs the change won (ties count for neither side),
then whether every run was correct and how many operations failed.

A gain is claimed (``gain: yes``) only under the rule of the
benchmark's method: at least ten pairs, the change wins at least nine
tenths of them, and its median is better than the parent's by more
than the parent's interquartile range.  ``within bound`` compares the
median ratio with the metric's regression bound.  The last stdout
line is the whole summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_SECONDS = 6
MIN_PAIRS = 10
WIN_SHARE = 0.9


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; one value is all three."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def compare(parent: list[float | None], change: list[float | None], better: str,
            bound: float) -> dict:
    """Summary of one metric over paired runs: ``parent[i]`` and
    ``change[i]`` ran on the same seed; a pair missing either value
    (a run that crashed) is left out."""
    pairs = [(p, c) for p, c in zip(parent, change) if p is not None and c is not None]
    if not pairs:
        return {"pairs": 0}
    ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(sign * (p - c) > 0 for p, c in pairs)
    losses = sum(sign * (c - p) > 0 for p, c in pairs)
    pq1, pmed, pq3 = quartiles(ps)
    cq1, cmed, cq3 = quartiles(cs)
    ratio = cmed / pmed if pmed else float("nan")
    worse = sign * (ratio - 1.0)
    return {
        "pairs": len(pairs),
        "parent": {"q1": pq1, "median": pmed, "q3": pq3},
        "change": {"q1": cq1, "median": cmed, "q3": cq3},
        "ratio": ratio,
        "wins": wins,
        "losses": losses,
        "ties": len(pairs) - wins - losses,
        "parent_iqr": pq3 - pq1,
        "gain": len(pairs) >= MIN_PAIRS
        and wins >= WIN_SHARE * len(pairs)
        and sign * (pmed - cmed) > pq3 - pq1,
        "within_bound": worse <= bound,
    }


def _checkout(rev: str, where: str, made: list[str]) -> str:
    """An existing directory as is, else a detached worktree of ``rev``."""
    if os.path.isdir(rev):
        return os.path.abspath(rev)
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    subprocess.run(
        ["git", "worktree", "add", "--detach", where, sha],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    made.append(where)
    return where


def run_once(checkout: str, workload: str, seed: int) -> dict:
    """One benchmark run; its result line, or a failed one if it crashed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(RUN_SECONDS), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    for line in reversed(proc.stdout.splitlines()):
        try:
            result = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(result, dict) and "metrics" in result:
            return result
    tail = proc.stderr.strip().splitlines()[-1:] or ["no output"]
    return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
            "error": f"exit {proc.returncode}: {tail[0]}"}


def _value(result: dict, name: str) -> float | None:
    metric = result["metrics"].get(name)
    return None if metric is None else float(metric["value"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    args = ap.parse_args(argv)

    made: list[str] = []
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        sides = {
            "parent": _checkout(args.parent, os.path.join(tmp, "parent"), made),
            "change": _checkout(args.change, os.path.join(tmp, "change"), made),
        }
        with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
            metrics = json.load(f)["end_to_end"]
        runs: dict[str, list[dict]] = {"parent": [], "change": []}
        for k, seed in enumerate(args.seeds):
            order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
            for side in order:
                result = run_once(sides[side], args.workload, seed)
                runs[side].append(result)
                values = {m["name"]: _value(result, m["name"]) for m in metrics}
                print(json.dumps({"pair": k, "seed": seed, "side": side,
                                  "correct": result["correct"], "failed": result["failed"],
                                  **values, **({"error": result["error"]} if "error" in result else {})}),
                      file=sys.stderr, flush=True)
    finally:
        for where in made:
            subprocess.run(["git", "worktree", "remove", "--force", where],
                           cwd=ROOT, capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)
        if not os.listdir(tmp):
            os.rmdir(tmp)

    summary = {
        "workload": args.workload,
        "seeds": args.seeds,
        "metrics": {
            m["name"]: compare([_value(r, m["name"]) for r in runs["parent"]],
                               [_value(r, m["name"]) for r in runs["change"]],
                               m["better"], m["bound"])
            for m in metrics
        },
        **{f"{side}_correct": all(r["correct"] for r in runs[side]) for side in runs},
        **{f"{side}_failed": sum(r["failed"] for r in runs[side]) for side in runs},
    }
    print(f"{args.workload}: {len(args.seeds)} pairs, seeds {args.seeds}")
    for name, s in summary["metrics"].items():
        if not s["pairs"]:
            print(f"  {name}: no complete pair")
            continue
        p, c = s["parent"], s["change"]
        print(f"  {name}: parent {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]"
              f"  change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]"
              f"  ratio {s['ratio']:.3f}  change wins {s['wins']}/{s['pairs']}"
              f" (ties {s['ties']})  parent IQR {s['parent_iqr']:.4g}"
              f"  gain: {'yes' if s['gain'] else 'no'}"
              f"  within bound: {'yes' if s['within_bound'] else 'no'}")
    for side in runs:
        print(f"  {side}: correct {summary[side + '_correct']}, failed {summary[side + '_failed']}")
    print(json.dumps(summary))
    ok = summary["parent_correct"] and summary["change_correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
