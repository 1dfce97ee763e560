#!/usr/bin/env python3
"""Compare two artifacts written by perfbench/run.py (perfbench/_out/*.json).

    python3 perfbench/compare.py A.json B.json
        A/B of two commits: every metric both runs measured, B against A.
    python3 perfbench/compare.py --overhead UNTRACED.json TRACED.json
        Tracing overhead: traced minus untraced, per end-to-end metric.

Artifacts are comparable only when their stamps agree on every key but
the one the comparison is about (the program, git_sha and source, for
an A/B; trace for the overhead). Anything else exits with status 3 and compares nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import END_TO_END  # noqa: E402
from perfbench.stats import StampMismatch, check_comparable  # noqa: E402

# plans.construct_s + operators.exec_s must account for the traced round (analytics)
LAYER_SUM_TOLERANCE = 0.10


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def ab_rows(a: dict, b: dict) -> list[tuple[str, float, float, float | None]]:
    ma, mb = a["metrics"], b["metrics"]
    return [(k, ma[k], mb[k], mb[k] / ma[k] if ma[k] else None)
            for k in sorted(set(ma) & set(mb)) if ma[k] is not None and mb[k] is not None]


def overhead_rows(untraced: dict, traced: dict) -> list[tuple[str, float, float, float]]:
    mu, mt = untraced["metrics"], traced["metrics"]
    return [(k, mu[k], mt[k], mt[k] - mu[k]) for k in END_TO_END]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args(argv)
    a, b = load(args.a), load(args.b)
    try:
        if args.overhead:
            check_comparable(a["stamp"], b["stamp"], vary=("trace",))
            if (a["stamp"]["trace"], b["stamp"]["trace"]) != (0, 1):
                raise StampMismatch("--overhead takes an untraced then a traced artifact")
        else:
            check_comparable(a["stamp"], b["stamp"])
    except StampMismatch as e:
        print(f"compare: {e}", file=sys.stderr)
        return 3
    if args.overhead:
        print(f"{'metric':28s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
        for k, u, t, d in overhead_rows(a, b):
            print(f"{k:28s} {u:12.4f} {t:12.4f} {d:+12.4f} ({d / u:+.1%})")
        share = b["metrics"].get("plans.layer_sum_share")
        if share is not None:
            ok = abs(share - 1.0) <= LAYER_SUM_TOLERANCE
            print(f"construct_s + exec_s = {share:.3f} x traced round_s: "
                  f"{'within' if ok else 'OUTSIDE'} {LAYER_SUM_TOLERANCE:.0%}")
    else:
        print(f"{'metric':40s} {'A':>14s} {'B':>14s} {'B/A':>8s}")
        for k, x, y, r in ab_rows(a, b):
            print(f"{k:40s} {x:14.4f} {y:14.4f} {'-' if r is None else f'{r:8.3f}'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
