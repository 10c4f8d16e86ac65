"""Alternating A/B of the repository benchmark between two checkouts.

    python tools/perf_ab.py --parent ../parent --change . \\
        --workload route_fanout --seeds 41 42 43 44 45 46 47 48 49 50

Runs ``perfbench/run.py --trace 0`` once per seed in each checkout,
alternating which side runs first (parent first on even pairs). Each
checkout runs its own copy of the benchmark and writes its scratch
files under its own ``perfbench/out/``, so run it on checkouts outside
the working tree. Prints, for every end-to-end metric in
``BENCHMARK.json``:

- the median [q1–q3] of each side and the change/parent ratio;
- the pairs the change won (ties count for neither side);
- the claim rule: the change wins at least nine tenths of the pairs
  and its median is better than the parent's by more than the
  parent's quartile spread (q3 − q1);
- the regression check: the change's median is no worse than the
  parent's by more than the metric's bound. Where either side's
  quartile spread, relative to its median, is wider than the bound,
  the metric is unresolved, unless every change run reads better
  than every parent run.

Then the failed share of passes on each side, and one JSON line with
all of it. Exits non-zero when a run fails to produce a result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); the inclusive method, so 2 values suffice."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def _better(a: float, b: float, lower: bool) -> bool:
    """a reads strictly better than b."""
    return a < b if lower else a > b


def claim(parent: list[float], change: list[float], lower: bool) -> dict:
    """The claim rule on paired runs (``parent[i]`` ran next to
    ``change[i]``): the change wins at least nine tenths of the pairs,
    and the medians differ, in the change's favour, by more than the
    parent's quartile spread."""
    wins = sum(_better(c, p, lower) for p, c in zip(parent, change))
    q1, med_p, q3 = quartiles(parent)
    med_c = quartiles(change)[1]
    gap = med_p - med_c if lower else med_c - med_p
    return {
        "pairs": len(parent),
        "wins": wins,
        "gap": gap,
        "parent_iqr": q3 - q1,
        "met": 10 * wins >= 9 * len(parent) and gap > q3 - q1,
    }


def bound_check(parent: list[float], change: list[float], lower: bool, bound: float) -> str:
    """'ok', 'regression' or 'unresolved' against a relative bound."""
    if all(_better(c, p, lower) for c in change for p in parent):
        return "ok"
    q1p, med_p, q3p = quartiles(parent)
    q1c, med_c, q3c = quartiles(change)
    worse = (med_c - med_p if lower else med_p - med_c) / abs(med_p)
    if worse > bound:
        return "regression"
    if (q3p - q1p) / abs(med_p) > bound or (q3c - q1c) / abs(med_c) > bound:
        return "unresolved"
    return "ok"


def run_bench(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py --trace 0`` run; its last stdout line."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{checkout}: {' '.join(cmd)} exited {proc.returncode}\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def _fmt(v: float) -> str:
    return f"{v:.4g}" if abs(v) < 1000 else f"{v:,.0f}"


def report(runs: dict[str, list[dict]], spec: dict) -> dict:
    """Print the per-metric table; return it as a dict."""
    out = {"metrics": {}, "failed": {}}
    print(f"{'metric':14s} {'parent median [q1-q3]':34s} {'change median [q1-q3]':34s}"
          f" {'ratio':>7s} {'wins':>6s}  claim  bound")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        qp, qc = quartiles(p), quartiles(c)
        rule = claim(p, c, lower)
        verdict = bound_check(p, c, lower, m["bound"])
        ratio = qc[1] / qp[1]
        print(
            f"{name:14s} {_fmt(qp[1]) + ' [' + _fmt(qp[0]) + '-' + _fmt(qp[2]) + ']':34s}"
            f" {_fmt(qc[1]) + ' [' + _fmt(qc[0]) + '-' + _fmt(qc[2]) + ']':34s}"
            f" {ratio:7.3f} {rule['wins']:>3d}/{rule['pairs']:<2d}"
            f"  {'MET' if rule['met'] else 'no':5s}  {verdict}"
        )
        out["metrics"][name] = {
            "parent": p, "change": c, "ratio": ratio, "claim": rule, "bound": verdict,
        }
    for side, rs in runs.items():
        failed, attempted = sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs)
        out["failed"][side] = [failed, attempted]
        print(f"# {side}: {failed}/{attempted} passes failed")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True, help="one pair per seed")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = {"parent": args.parent, "change": args.change}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_bench(sides[side], args.workload, seed, spec["run_seconds"])
            runs[side].append(res)
            shown = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"# pair {i} seed {seed} {side}: {json.dumps(shown)}", flush=True)
    summary = report(runs, spec)
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, **summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
