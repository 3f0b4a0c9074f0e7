"""Same-host A/B of two git revisions on the declared benchmark.

Exports each revision with ``git archive`` into its own directory under
``--workdir``, so each side runs from a clean checkout of its committed
files, then runs ``perfbench/run.py`` for both, interleaved in pairs,
alternating which side runs first. For each workload × metric it
prints each side's median and quartiles, the relative change of the
medians, and how many pairs the change won (ties count for neither side);
"better" and the regression bound come from ``BENCHMARK.json``. A gain is
claimable when the change wins at least 9/10 of the pairs and the medians
differ by more than the base's interquartile distance.

Run from the repository root; to A/B uncommitted edits, pass
``$(git stash create)`` as the change (a commit of the working tree that
leaves the tree and the stash list untouched):

    python BENCH/ab.py --base HEAD~1 --change HEAD --workload evaluate \\
        --pairs 10 --seed 1 --seconds 5 --workdir /tmp/ab

Raw per-run JSON lines are appended to ``<workdir>/runs.jsonl``; each
run's stderr (the benchmark's log, including the reason a pass failed its
check) is kept beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, workdir: str) -> tuple[str, str]:
    """→ (full sha, checkout dir) of ``rev`` exported under ``workdir``."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", rev], check=True,
                         capture_output=True, text=True).stdout.strip()
    out = os.path.join(workdir, sha[:12])
    if not os.path.isdir(out):
        os.makedirs(out)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha],
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", out], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise RuntimeError(f"git archive {sha} failed")
    return sha, out


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             trace: int, log_path: str) -> dict:
    """One benchmark process, its stderr kept in ``log_path``; → its result
    line (``correct``, ``attempted``, ``failed``, ``metrics``)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    with open(log_path, "w") as f:
        f.write(proc.stderr)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: list[tuple[dict, dict]], spec: dict) -> list[dict]:
    """Per metric, over the pairs whose runs both passed their checks (a
    failed run is counted in the header line instead): each side's
    quartiles, the change's pair wins, and the median's relative move
    against the bound (None where undeclared)."""
    pairs = [(b, c) for b, c in pairs if b["correct"] and c["correct"]]
    names = sorted({m for b, c in pairs for m in b["metrics"]}
                   & {m for b, c in pairs for m in c["metrics"]})
    rows = []
    for name in names:
        decl = spec.get(name, {})
        higher = decl.get("better") == "higher"
        both = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
                for b, c in pairs if name in b["metrics"] and name in c["metrics"]]
        base = [b for b, _ in both]
        change = [c for _, c in both]
        wins = sum((c > b) if higher else (c < b) for b, c in both)
        losses = sum((c < b) if higher else (c > b) for b, c in both)
        bq, cq = quartiles(base), quartiles(change)
        rel = (cq[1] - bq[1]) / abs(bq[1]) if bq[1] else 0.0
        worse = -rel if higher else rel
        rows.append({
            "metric": name, "unit": decl.get("unit", ""), "better": decl.get("better"),
            "pairs": len(both), "change_wins": wins, "change_losses": losses,
            "base_q1_med_q3": bq, "change_q1_med_q3": cq, "rel_change": rel,
            "bound": decl.get("bound"),
            "within_bound": None if "bound" not in decl else worse <= decl["bound"],
            "beyond_base_iqr": abs(cq[1] - bq[1]) > bq[2] - bq[0],
        })
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the parent")
    ap.add_argument("--change", required=True, help="git revision of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=None,
                    help="where the checkouts and runs.jsonl go (default: a new temp dir)")
    args = ap.parse_args()
    workdir = args.workdir or tempfile.mkdtemp(prefix="hns_ab_")
    os.makedirs(workdir, exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sides = {"base": export(args.base, workdir), "change": export(args.change, workdir)}
    pairs = []
    ops = {side: {"runs_incorrect": 0, "passes_attempted": 0, "passes_failed": 0}
           for side in sides}
    log = os.path.join(workdir, "runs.jsonl")
    for i in range(args.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        got = {}
        for side in order:
            sha, checkout = sides[side]
            t = time.time()
            res = run_once(checkout, args.workload, args.seed, args.seconds, args.trace,
                           os.path.join(workdir, f"{args.workload}-s{args.seed}-t{args.trace}"
                                        f"-{i}-{side}.err"))
            got[side] = res
            ops[side]["runs_incorrect"] += not res["correct"]
            ops[side]["passes_attempted"] += res["attempted"]
            ops[side]["passes_failed"] += res["failed"]
            with open(log, "a") as f:
                f.write(json.dumps({"pair": i, "side": side, "sha": sha,
                                    "workload": args.workload, "seed": args.seed,
                                    "trace": args.trace, "wall_s": time.time() - t,
                                    **res}) + "\n")
            print(f"pair {i} {side:6s} correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                             if k in {m["name"] for m in bench["end_to_end"]}),
                  file=sys.stderr, flush=True)
        pairs.append((got["base"], got["change"]))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pairs": args.pairs,
                      "base": sides["base"][0], "change": sides["change"][0],
                      "operations": ops}))
    for row in summarize(pairs, spec):
        print(json.dumps(row))


if __name__ == "__main__":
    main()
