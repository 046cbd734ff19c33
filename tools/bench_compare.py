"""Compare two bench JSON files (BENCH_r{N}.json or bench.py output)
query by query, flagging regressions.

    python tools/bench_compare.py BENCH_r01.json BENCH_r02.json
    python tools/bench_compare.py BENCH_r01.json BENCH_r02.json --threshold 1.5

The driver wraps bench output in {"n", "rc", "tail", ...}; the raw
one-line JSON from bench.py is also accepted. Queries present in only
one file are listed separately (bench.py benches the whole registry,
so queries only in new = specs registered since the old run).
"""

from __future__ import annotations

import argparse
import json
import re
import sys


def load(path: str) -> dict[str, float]:
    with open(path) as f:
        raw = f.read()
    try:
        d = json.loads(raw)
    except json.JSONDecodeError:
        d = None
    if isinstance(d, dict) and "queries" in d:
        return d["queries"]
    # driver wrapper: the bench line is embedded in "tail"
    text = d.get("tail", raw) if isinstance(d, dict) else raw
    m = re.search(r'\{"metric".*\}', text)
    if not m:
        sys.exit(f"{path}: no bench JSON found")
    return json.loads(m.group(0))["queries"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument(
        "--threshold",
        type=float,
        default=2.0,
        help="flag queries slower than OLD * threshold (default 2.0)",
    )
    args = ap.parse_args()
    old, new = load(args.old), load(args.new)
    common = sorted(set(old) & set(new))
    regressions = []
    print(f"{'query':42s} {'old':>8s} {'new':>8s} {'ratio':>7s}")
    for q in sorted(common, key=lambda q: -(new[q] / max(old[q], 1e-9))):
        ratio = new[q] / max(old[q], 1e-9)
        flag = " <-- REGRESSION" if ratio > args.threshold and new[q] > 0.5 else ""
        if flag:
            regressions.append(q)
        print(f"{q:42s} {old[q]:8.3f} {new[q]:8.3f} {ratio:6.2f}x{flag}")
    only_new = sorted(set(new) - set(old))
    if only_new:
        print(f"\nnewly tracked ({len(only_new)}):")
        for q in only_new:
            print(f"  {new[q]:8.3f}  {q}")
    t_old = sum(old[q] for q in common)
    t_new = sum(new[q] for q in common)
    print(
        f"\ncomparable total: {t_old:.1f}s -> {t_new:.1f}s "
        f"({t_new / max(t_old, 1e-9):.2f}x); regressions over "
        f"{args.threshold}x: {len(regressions)}"
    )
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
