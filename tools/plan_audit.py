"""Plan-hygiene audit over the registered query suite.

Runs each `queries()` entry at a small SF, executes it (AQE finalizes
plans only after an action), and reports per-query physical-plan counts:
parquet scans, shuffle exchanges, broadcast exchanges, single-partition
exchanges, and row-scale unpartitioned windows. The counters read ONLY
the `== Final Plan ==` section of AdaptiveSparkPlan's toString — the
pre-adaptive `== Initial Plan ==` echo otherwise doubles every count
(the r4 lesson: interval_coverage "2 scans" was 1).

Usage:
    python tools/plan_audit.py [--sf-dir DIR] [--only a,b] [--max-scans N]
    python tools/plan_audit.py --exclude-prefix stream_,pyds_   # default

Exit code 1 if any audited query exceeds --max-scans (default 6) —
a rescan regression gate cheap enough for every session.
"""
from __future__ import annotations

import argparse
import re
import sys


def final_plan(df) -> str:
    p = df._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan prints "== Final Plan ==" then "== Initial Plan =="
    if "== Initial Plan ==" in p:
        p = p.split("== Initial Plan ==")[0]
    return p


def audit_counts(p: str) -> dict:
    return {
        "scans": len(re.findall(r"FileScan parquet", p)),
        "shuffles": len(re.findall(r"Exchange (?:hash|range)partitioning",
                                   p)),
        "bcast": p.count("BroadcastExchange"),
        "single": p.count("Exchange SinglePartition"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    ap.add_argument("--exclude-prefix", default="stream_,pyds_")
    ap.add_argument("--max-scans", type=int, default=6)
    args = ap.parse_args()

    sys.path.insert(0, ".")
    import __spark_entry__ as entry
    from spanner_data_validator_spark import get_spark
    from spanner_data_validator_spark.plans.demo_queries import remove_work_root

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    qs = entry.queries()
    names = (args.only.split(",") if args.only else
             [n for n in qs
              if not any(n.startswith(p)
                         for p in args.exclude_prefix.split(","))])
    worst, failed = [], []
    for name in names:
        try:
            df = qs[name](spark, args.sf_dir)
            df.collect()
            c = audit_counts(final_plan(df))
        except Exception as exc:  # noqa: BLE001 — report, keep auditing
            failed.append((name, str(exc).splitlines()[0][:100]))
            continue
        finally:
            remove_work_root()  # the plan is read; drop staged files
        flag = " <-- scans" if c["scans"] > args.max_scans else ""
        print(f"{name:32s} scans={c['scans']:2d} shuffles={c['shuffles']:2d}"
              f" bcast={c['bcast']:2d} single={c['single']:2d}{flag}")
        if c["scans"] > args.max_scans:
            worst.append(name)
    for name, err in failed:
        print(f"ERR   {name}: {err}")
    print(f"audited={len(names) - len(failed)} errors={len(failed)} "
          f"over_scan_budget={worst}")
    return 1 if worst or failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
