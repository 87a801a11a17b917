"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl
    python3 perfbench/compare.py --overhead UNTRACED.jsonl TRACED.jsonl

Each file holds the stdout of several ``run.py`` runs (one run record
line per run; other lines are ignored). For every workload and
end-to-end metric it prints both sides' median and quartiles and a
verdict, following the rule for a small sandbox:

- ``better``: the change wins at least nine tenths of the run pairs
  (runs paired in file order, ties counting for neither) and the
  medians differ by more than the base's own spread (q3 - q1);
- ``worse``: the change's median is worse than the base's by more than
  the metric's bound from BENCHMARK.json;
- ``unresolved``: the base's spread is wider than the bound, unless
  every change run reads better than every base run;
- ``within bound`` otherwise.

Record-only metrics have no bound in BENCHMARK.json; they read
``better`` or ``unresolved (no bound)``.

``--overhead`` prints traced minus untraced medians instead: the cost
of tracing on each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import quartiles  # noqa: E402

LOWER_IS_BETTER_UNITS = {"s", "ms", "MB", "ratio", "bytes", "count"}


def load(path: str) -> dict[str, list[dict]]:
    """workload -> list of run records, in file order."""
    out: dict[str, list[dict]] = {}
    with open(path) as fh:
        for ln in fh:
            ln = ln.strip()
            if not ln.startswith("{"):
                continue
            try:
                d = json.loads(ln)
            except ValueError:
                continue
            if "record" in d:
                out.setdefault(d["record"]["workload"], []).append(d["record"])
    return out


def bounds(root: str) -> dict[str, dict]:
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            return {m["name"]: m for m in json.load(fh)["end_to_end"]}
    except (OSError, ValueError, KeyError):
        return {}


def verdict(base: list[float], change: list[float], lower_better: bool,
            bound: float | None) -> str:
    sign = -1.0 if lower_better else 1.0
    q1, med_a, q3 = quartiles(base)
    _, med_b, _ = quartiles(change)
    pairs = list(zip(base, change))
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    if pairs and wins >= 0.9 * len(pairs) and abs(med_b - med_a) > (q3 - q1):
        return "better"
    if bound is not None and sign * (med_b - med_a) < -bound * abs(med_a):
        return "worse"
    every_better = all(sign * (b - a) > 0 for a in base for b in change)
    if bound is None or ((q3 - q1) > bound * abs(med_a) and not every_better):
        return "unresolved"
    return "within bound"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Compare two sets of perfbench runs.")
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--overhead", action="store_true",
                    help="report change minus base medians (traced minus untraced)")
    args = ap.parse_args(argv)
    a, b = load(args.base), load(args.change)
    bnd = bounds(os.path.dirname(HERE))
    rows = []
    for wl in sorted(set(a) & set(b)):
        names = sorted(set(a[wl][0]["metrics"]) & set(b[wl][0]["metrics"]))
        for name in names:
            va = [r["metrics"][name]["value"] for r in a[wl] if name in r["metrics"]]
            vb = [r["metrics"][name]["value"] for r in b[wl] if name in r["metrics"]]
            if not va or not vb:
                continue
            unit = a[wl][0]["metrics"][name]["unit"]
            qa, qb = quartiles(va), quartiles(vb)
            if args.overhead:
                tail = f"{qb[1] - qa[1]:+.4g} {unit} ({(qb[1] - qa[1]) / qa[1]:+.1%})" if qa[1] else ""
            else:
                m = bnd.get(name)
                lower = (m["better"] == "lower") if m else unit in LOWER_IS_BETTER_UNITS
                tail = verdict(va, vb, lower, m["bound"] if m else None)
                tail += "" if m else " (no bound)"
            rows.append(
                f"{wl:14} {name:26} base {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] n={len(va)}"
                f"  change {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(vb)}  {tail}"
            )
    print("\n".join(rows) if rows else "no workload present in both sets")
    return 0


if __name__ == "__main__":
    sys.exit(main())
