"""Steadiness check: run one workload with several seeds and report, for
each end-to-end metric, the median, the quartiles and the quartile
spread as a share of the median, next to the metric's bound from
BENCHMARK.json. With --compare, report by how much each of two such
sets has a worse median than the other, against the same bounds.

  python3 perfbench/steadiness.py --workload query_mix --runs 10 \
      [--first-seed 1] [--out perfbench/steadiness/<file>.json]
  python3 perfbench/steadiness.py --compare FIRST.json SECOND.json [--out ...]

Run from the repository root.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def worse_by(first, second, better):
    """The share by which `second` is worse than `first` (negative when
    better)."""
    worse = (second - first) / first
    return -worse if better == "higher" else worse


def compare(first, second, better):
    """Per metric: each set's median against the other's, in both orders,
    as the share by which it is worse. Two sets agree on a metric when
    neither median is worse than the other's by more than the bound."""
    out = {}
    for name, a in first["summary"].items():
        b = second["summary"][name]
        fwd = worse_by(a["median"], b["median"], better[name])
        rev = worse_by(b["median"], a["median"], better[name])
        out[name] = {"first": a["median"], "second": b["median"],
                     "second_worse_by": fwd, "first_worse_by": rev,
                     "bound": a["bound"],
                     "within": max(fwd, rev) <= a["bound"]}
        print(f"{name:18s} first={a['median']:12.4f} second={b['median']:12.4f} "
              f"second_worse_by={fwd:+.4f} first_worse_by={rev:+.4f} "
              f"bound={a['bound']}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    ap.add_argument("--out")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(json.load(f))
        better = {m["name"]: m["better"] for m in bench["end_to_end"]}
        out = compare(sets[0], sets[1], better)
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"first": args.compare[0], "second": args.compare[1],
                           "metrics": out}, f, indent=1)
        return
    if not args.workload:
        ap.error("--workload is required")
    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable] + bench["command"][1:] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = metrics.cpu_times()
        p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
        steal = metrics.steal_pct(t0, metrics.cpu_times())
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        vals = {k: v["value"] for k, v in res["metrics"].items()}
        runs.append({"seed": seed, "correct": res["correct"],
                     "attempted": res["attempted"], "failed": res["failed"],
                     "steal_pct": steal, "metrics": vals})
        print(f"seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in vals.items())
              + (f" steal={steal:.1f}%" if steal is not None else ""), flush=True)
    summary = {}
    for name, bound in bounds.items():
        q1, med, q3, spread = metrics.quartile_spread(
            [r["metrics"][name] for r in runs])
        summary[name] = {"q1": q1, "median": med, "q3": q3, "spread": spread,
                         "bound": bound, "spread_over_bound": spread / bound}
        print(f"{name:18s} median={med:12.4f} q1={q1:12.4f} q3={q3:12.4f} "
              f"spread={spread:.4f} bound={bound} ratio={spread / bound:.2f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "run_seconds": bench["run_seconds"],
                       "runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
