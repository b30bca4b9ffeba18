"""Diff two bench artifacts with host-weather context.

Per BENCH.md's rule, one-shot per-query walls are smoke-numbers: single
entries spike 5-10x under co-tenant load with zero code change. This tool
makes the comparison honest mechanically:

* separates NEW entries from REGRESSED ones;
* flags a regression only above --threshold (default 1.5x) AND > 1 s
  absolute (micro-entries jitter);
* prints the uniform-inflation estimate (median ratio over common
  entries) — if most entries moved together, it's the window, not code.

Usage: python tools/bench_compare.py OLD.json NEW.json [--threshold 1.5]
Exit 1 if any entry regressed beyond threshold AFTER dividing out the
uniform inflation (i.e., a query got slower relative to its peers).
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    args = ap.parse_args()

    old = json.load(open(args.old))
    new = json.load(open(args.new))
    qo, qn = old.get("queries", {}), new.get("queries", {})

    print(f"old: total={old.get('value')}s entries={len(qo)} "
          f"stream={old.get('transcript', {}).get('stream_sec')}s")
    print(f"new: total={new.get('value')}s entries={len(qn)} "
          f"stream={new.get('transcript', {}).get('stream_sec')}s")

    common = sorted(set(qo) & set(qn))
    added = sorted(set(qn) - set(qo))
    if added:
        add_sum = sum(qn[k] for k in added)
        print(f"\nnew entries ({len(added)}, {add_sum:.1f}s total):")
        for k in sorted(added, key=lambda k: -qn[k])[:10]:
            print(f"  {qn[k]:7.2f}s {k}")

    ratios = [qn[k] / qo[k] for k in common if qo[k] > 0.05]
    uniform = statistics.median(ratios) if ratios else 1.0
    print(f"\nuniform inflation (median ratio over {len(common)} common "
          f"entries): {uniform:.2f}x"
          + ("  <- window shift, not code" if uniform > 1.2 else ""))

    bad = []
    for k in common:
        if qn[k] < 1.0 or qo[k] <= 0.0:
            continue
        rel = (qn[k] / qo[k]) / uniform
        if rel > args.threshold and qn[k] - qo[k] > 1.0:
            bad.append((rel, k, qo[k], qn[k]))
    if bad:
        print("\nregressed RELATIVE to peers (ratio/uniform > "
              f"{args.threshold}x and >1s):")
        for rel, k, a, b in sorted(bad, reverse=True):
            print(f"  {rel:5.2f}x {k}: {a:.2f}s -> {b:.2f}s")
    else:
        print("\nno entry regressed relative to peers.")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
