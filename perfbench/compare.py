"""Compare benchmark results of two commits.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the JSON records that ``run.py`` writes (its
``--out`` directory).  Runs of the two sides with the same workload, trace
mode and seed form a pair.  For every metric and workload the report gives
each side's median and quartiles, the share of pairs the new side won
(ties count for neither side) and a verdict:

- ``better``: the new side won at least 9/10 of the pairs and the medians
  differ by more than the base side's own spread (its interquartile range);
- ``worse``: an end-to-end metric whose new median is worse than the base
  median by more than the metric's bound in BENCHMARK.json;
- ``unresolved``: the base side's spread is wider than the bound, unless
  every new run beat every base run;
- ``same``: none of the above (per-layer metrics have no bound, so they are
  never ``worse``; read them as evidence of where a change acted).

To produce the records, run both checkouts on the same seeds and
alternate which side runs first, e.g. with ``--pairs``:

    python3 perfbench/compare.py --pairs BASE_CHECKOUT NEW_CHECKOUT \\
        --workload batch_mixed --seeds 1 10 --out-base b --out-new n
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(directory: str) -> dict[tuple[str, int, int], dict[str, float]]:
    """(workload, trace, seed) -> metric values; a seed run twice keeps
    its last record."""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json")), key=os.path.getmtime):
        with open(path) as f:
            rec = json.load(f)
        res = rec["result"]
        if not res["correct"]:
            print(f"skipping incorrect run {path}: {rec['failures'][:3]}", file=sys.stderr)
            continue
        out[(rec["workload"], rec["trace"], rec["seed"])] = {k: m["value"] for k, m in res["metrics"].items()}
    return out


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def verdict(base: list[float], new: list[float], better: str, bound: float | None) -> tuple[float, str]:
    sign = 1 if better == "higher" else -1
    wins = sum(1 for b, n in zip(base, new) if sign * (n - b) > 0)
    share = wins / len(base)
    bq1, bmed, bq3 = quartiles(base)
    _, nmed, _ = quartiles(new)
    spread = bq3 - bq1
    if share >= 0.9 and abs(nmed - bmed) > spread and sign * (nmed - bmed) > 0:
        return share, "better"
    if bound is not None and bmed and sign * (nmed - bmed) / abs(bmed) < -bound:
        return share, "worse"
    all_better = min(sign * n for n in new) > max(sign * b for b in base)
    if bound is not None and bmed and spread / abs(bmed) > bound and not all_better:
        return share, "unresolved"
    return share, "same"


def report(base_dir: str, new_dir: str) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, new = load(base_dir), load(new_dir)
    keys = sorted(set(base) & set(new))
    if not keys:
        print("no (workload, trace, seed) runs in common", file=sys.stderr)
        return 1
    worse = 0
    print(f"{'workload':12s} {'metric':28s} {'pairs':>5s} {'base q1/med/q3':>32s} {'new q1/med/q3':>32s} "
          f"{'won':>5s}  verdict")
    for wl, trace in sorted({(w, t) for w, t, _ in keys}):
        seeds = [s for w, t, s in keys if (w, t) == (wl, trace)]
        for name in base[(wl, trace, seeds[0])]:
            m = meta.get(name)
            if m is None:
                continue
            b = [base[(wl, trace, s)][name] for s in seeds]
            n = [new[(wl, trace, s)][name] for s in seeds]
            share, v = verdict(b, n, m["better"], m.get("bound"))
            worse += v == "worse"
            fmt = "{:10.4g} {:10.4g} {:10.4g}"
            print(f"{wl:12s} {name:28s} {len(seeds):5d} {fmt.format(*quartiles(b)):>32s} "
                  f"{fmt.format(*quartiles(n)):>32s} {share:5.2f}  {v}")
    return 1 if worse else 0


def run_pairs(args) -> int:
    """Run both checkouts on each seed, alternating which goes first."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = [(args.pairs[0], os.path.abspath(args.out_base)), (args.pairs[1], os.path.abspath(args.out_new))]
    for i, seed in enumerate(range(args.seeds[0], args.seeds[1] + 1)):
        for checkout, out in sides if i % 2 == 0 else sides[::-1]:
            cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace), "--out", out]
            print(f"[{checkout}] {' '.join(cmd)}", file=sys.stderr)
            subprocess.run(cmd, cwd=checkout, check=True, stdout=subprocess.DEVNULL)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Compare benchmark results of two commits.")
    p.add_argument("dirs", nargs="*", help="BASE_DIR NEW_DIR of run records")
    p.add_argument("--pairs", nargs=2, metavar=("BASE_CHECKOUT", "NEW_CHECKOUT"), help="run pairs first")
    p.add_argument("--workload")
    p.add_argument("--seeds", nargs=2, type=int, default=(1, 10), metavar=("FIRST", "LAST"))
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out-base", default=os.path.join(ROOT, ".perfbench_out", "compare_base"))
    p.add_argument("--out-new", default=os.path.join(ROOT, ".perfbench_out", "compare_new"))
    args = p.parse_args(argv)
    if args.pairs:
        if not args.workload:
            p.error("--pairs needs --workload")
        run_pairs(args)
        return report(args.out_base, args.out_new)
    if len(args.dirs) != 2:
        p.error("give BASE_DIR NEW_DIR, or --pairs")
    return report(*args.dirs)


if __name__ == "__main__":
    sys.exit(main())
