"""Compare two sets of benchmark runs (stdlib only).

    python3 perfbench/compare.py BASE_DIR_OR_FILES... --vs NEW_DIR_OR_FILES...

Each side is a list of run records (the JSON files run.py writes with
--record, or directories of them). For every workload and metric it prints
each side's median and quartiles, the share of seed-paired runs the new
side wins (ties count for neither side), and a verdict:

  regressed   the new median is worse than the base median by more than
              the metric's bound in BENCHMARK.json
  improved    the new side wins at least 9 in 10 pairs and the medians
              differ by more than the base side's own quartile spread
  same        neither of the above
  unresolved  a side's quartile spread is wider than the bound, unless
              every new run is better (or worse) than every base run

Metrics without a bound (per-layer ones, and end-to-end metrics that
BENCHMARK.json does not gate) get their statistics and "-" as verdict.
Runs launched at load >= 2.5 are counted per side and kept.
"""

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WIN_SHARE = 0.9


def load(paths):
    runs = []
    for p in map(Path, paths):
        for f in sorted(p.glob("*.json")) if p.is_dir() else [p]:
            runs.append(json.loads(f.read_text()))
    return runs, sum(1 for r in runs if not r.get("quiet", True))


def metrics_of(rec):
    m = dict(rec.get("end_to_end", {}))
    m.update(rec.get("per_layer", {}))
    return m


def better_of(x, y, lower):
    """1 if y beats x, -1 if x beats y, 0 on a tie."""
    if x == y:
        return 0
    return 1 if (y < x) == lower else -1


def verdict(a, b, pairs, bound, lower):
    if bound is None:
        return "-"
    qa, qb = stats.quartiles(a), stats.quartiles(b)
    if qa[1] == 0:
        return "-"
    if max(stats.spread(a) or 0, stats.spread(b) or 0) > bound:
        if all(better_of(x, y, lower) > 0 for x in a for y in b):
            return "improved (every run)"
        if all(better_of(x, y, lower) < 0 for x in a for y in b):
            return "regressed (every run)"
        return "unresolved"
    worse = (qb[1] - qa[1]) / abs(qa[1]) * (1 if lower else -1)
    if worse > bound:
        return "regressed"
    wins = [better_of(x, y, lower) for x, y in pairs]
    share = sum(w > 0 for w in wins) / len(wins) if wins else 0.0
    if share >= WIN_SHARE and -worse > (stats.spread(a) or 0):
        return "improved"
    return "same"


def compare(base, new, spec, out=sys.stdout):
    gated = {m["name"]: m for m in spec["end_to_end"]}
    lower_of = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"] + spec["per_layer"]}
    workloads = [w["name"] for w in spec["workloads"]]
    fmt = "{:<14} {:<42} {:>32} {:>32} {:>6}  {}"
    print(fmt.format("workload", "metric", "base q1/median/q3", "new q1/median/q3",
                     "wins", "verdict"), file=out)
    for wl in workloads:
        a_runs = [r for r in base if r["workload"] == wl]
        b_runs = [r for r in new if r["workload"] == wl]
        if not a_runs or not b_runs:
            continue
        names = [n for n in metrics_of(a_runs[0]) if n in metrics_of(b_runs[0])]
        for name in names:
            a = [metrics_of(r)[name] for r in a_runs if name in metrics_of(r)]
            b = [metrics_of(r)[name] for r in b_runs if name in metrics_of(r)]
            by_seed = {r["seed"]: metrics_of(r)[name] for r in a_runs}
            pairs = [(by_seed[r["seed"]], metrics_of(r)[name]) for r in b_runs
                     if r["seed"] in by_seed]
            if len(pairs) < min(len(a), len(b)):
                pairs = list(zip(a, b))
            lower = lower_of.get(name, not name.endswith("_per_s"))
            wins = [better_of(x, y, lower) for x, y in pairs]
            share = sum(w > 0 for w in wins) / len(wins) if wins else 0.0
            bound = gated[name]["bound"] if name in gated else None
            q = lambda xs: "/".join(f"{v:.4g}" for v in stats.quartiles(xs))  # noqa: E731
            print(fmt.format(wl, name, q(a), q(b), f"{share:.2f}",
                             verdict(a, b, pairs, bound, lower)), file=out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base", nargs="+")
    ap.add_argument("--vs", nargs="+", required=True, dest="new")
    a = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    base, base_noisy = load(a.base)
    new, new_noisy = load(a.new)
    print(f"# base: {len(base)} runs ({base_noisy} launched at load >= 2.5); "
          f"new: {len(new)} runs ({new_noisy} launched at load >= 2.5)")
    compare(base, new, spec)


if __name__ == "__main__":
    main()
