"""Compare two sets of benchmark runs metric by metric.

Usage, from the repository root::

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json B2.json ...

Each file is a run's ``result.json`` (``perfbench/_runs/<workload>-s<seed>-t0/``;
copy them aside before re-running the same seed). For every end-to-end
metric it prints both medians, the change, the base runs' quartile
spread and the bound from ``BENCHMARK.json``. A change larger than the
bound is ``worse``; when the base spread itself exceeds the bound the
metric is ``unresolved`` unless every new run beats every base run. A
change is ``better`` only when every new run beats every base run or
the gain exceeds the base spread.
Results from different workloads or core counts are refused.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from run import metrics_of  # noqa: E402


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def _same_setup(results: list[dict]) -> str | None:
    """Why these results cannot be compared, or None."""
    keys = {
        (r["workload"], r["trace"], r["box"]["nproc"], r["box"]["spark_graft_cpus"])
        for r in results
    }
    if len(keys) > 1:
        return f"results differ in (workload, trace, nproc, SPARK_GRAFT_CPUS): {sorted(keys)}"
    return None


def compare(base: list[dict], new: list[dict], bounds: dict) -> list[dict]:
    rows = []
    for name, spec in bounds.items():
        b = [metrics_of(r)[name]["value"] for r in base]
        n = [metrics_of(r)[name]["value"] for r in new]
        mb, mn = statistics.median(b), statistics.median(n)
        sign = 1 if spec["better"] == "lower" else -1
        change = sign * (mn - mb) / mb
        spread = stats.spread(b) if len(b) >= 2 else 0.0
        all_better = max(sign * x for x in n) < min(sign * x for x in b)
        if spread > spec["bound"] and not all_better:
            verdict = "unresolved"
        elif change > spec["bound"]:
            verdict = "worse"
        else:
            # A gain must stand out of the base runs' own spread.
            verdict = "better" if all_better or -change > spread else "within bound"
        rows.append(dict(metric=name, base=mb, new=mn, change=change, spread=spread,
                         bound=spec["bound"], verdict=verdict))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    a = ap.parse_args(argv)
    base, new = _load(a.base), _load(a.new)
    why = _same_setup(base + new)
    if why:
        print(f"refused: {why}", file=sys.stderr)
        return 2
    if base[0]["trace"]:
        print("refused: compare untraced runs (--trace 0)", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    for r in compare(base, new, bounds):
        print(f"{r['metric']:<14} base {r['base']:.4g} new {r['new']:.4g} "
              f"change {r['change']:+.1%} spread {r['spread']:.1%} "
              f"bound {r['bound']:.0%} {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
