"""Paired comparison of two graft checkouts on the benchmark.

    python3 perfbench/compare.py --parent ../graft-parent --change . \\
        [--workloads cdc_catchup,dedup_sync] [--pairs 10] [--seed0 1000]

Both sides run this directory's benchmark code (so settings are
identical) against their own sources. Runs alternate parent/change and
the order flips every pair; pair i of a workload uses seed seed0 + i on
both sides. Runs flagged invalid are left out. Prints one row per
workload and end-to-end metric: each side's median and quartiles, the
share of pairs the change won (ties count for neither), and a verdict:

  better      the change won at least 90% of pairs and the medians differ
              by more than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more
              than the metric's bound
  same        neither
  too few pairs  fewer than ten pairs completed; no verdict
  unresolved  a side's run-to-run spread (quartile distance over median)
              exceeds the metric's bound, so "same" cannot be told apart
              from noise (unless every change run beats every parent
              run, which reads "better")
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
# a gain or loss is judged on at least ten pairs; fewer give no verdict
MIN_PAIRS = 10
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def run_once(checkout, workload, seed, seconds):
    result_path = Path(checkout) / ".bench_build" / "perfbench" / "compare.json"
    result_path.parent.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, PERFBENCH_RESULT=str(result_path))
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True,
                       text=True)
    try:
        lines = r.stdout.strip().splitlines()
        line = json.loads(lines[-1]) if lines else None
        result = json.loads(result_path.read_text())
    except (ValueError, OSError):
        line, result = None, None
    finally:
        result_path.unlink(missing_ok=True)
    if r.returncode != 0 or line is None or not line["correct"]:
        print(f"  {checkout} {workload} seed {seed}: failed run\n"
              f"{r.stderr[-2000:]}", file=sys.stderr)
        return None
    if not result["validity"]["valid"]:
        print(f"  {checkout} {workload} seed {seed}: invalid run, left out",
              file=sys.stderr)
        return None
    values = {k: v["value"] for k, v in line["metrics"].items()}
    return values, result["context"].get("steal_share") or 0.0


def verdict(metric, parent, change, wins, pairs):
    if pairs < MIN_PAIRS:
        return "too few pairs"
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    bound = metric["bound"]
    sign = 1.0 if metric["better"] == "higher" else -1.0
    if (p3 - p1) / pm > bound or (c3 - c1) / cm > bound:
        # noise wider than the bound hides a regression of that size,
        # unless every change run beats every parent run
        all_better = (min(change) > max(parent) if sign > 0
                      else max(change) < min(parent))
        return "better" if all_better else "unresolved"
    if wins / pairs >= 0.9 and sign * (cm - pm) > (p3 - p1):
        return "better"
    if sign * (cm - pm) < -bound * pm:
        return "worse"
    return "same"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    args = ap.parse_args()

    rows = []
    for workload in args.workloads.split(","):
        sides = {"parent": [], "change": []}
        steals = {"parent": [], "change": []}
        wins = {m["name"]: 0 for m in SPEC["end_to_end"]}
        pairs = 0
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                print(f"{workload} pair {i + 1}/{args.pairs}: {side}",
                      file=sys.stderr)
                got[side] = run_once(getattr(args, side), workload, seed,
                                     args.seconds)
            if got["parent"] is None or got["change"] is None:
                continue
            pairs += 1
            for side in sides:
                sides[side].append(got[side][0])
                steals[side].append(got[side][1])
            for m in SPEC["end_to_end"]:
                p, c = got["parent"][0][m["name"]], got["change"][0][m["name"]]
                better = c > p if m["better"] == "higher" else c < p
                wins[m["name"]] += 1 if better and c != p else 0
        if pairs:
            print(f"{workload}: median host steal share parent "
                  f"{statistics.median(steals['parent']):.3f}, change "
                  f"{statistics.median(steals['change']):.3f}",
                  file=sys.stderr)
        for m in SPEC["end_to_end"]:
            name = m["name"]
            if not pairs:
                rows.append((workload, name, "-", "-", "-", "no pairs"))
                continue
            pv = [r[name] for r in sides["parent"]]
            cv = [r[name] for r in sides["change"]]
            fmt = "{1:.4g} [{0:.4g}, {2:.4g}]".format
            rows.append((workload, name, fmt(*quartiles(pv)),
                         fmt(*quartiles(cv)), f"{wins[name]}/{pairs}",
                         verdict(m, pv, cv, wins[name], pairs)))
    head = ("workload", "metric", "parent median [q1, q3]",
            "change median [q1, q3]", "change won", "verdict")
    widths = [max(len(str(r[i])) for r in rows + [head]) for i in range(6)]
    for r in [head] + rows:
        print("  ".join(str(x).ljust(w) for x, w in zip(r, widths)))


if __name__ == "__main__":
    main()
