"""spark-submit entry: recommend a watermark delay from measured lateness.

Usage (cluster; spark-submit takes the job's script path)::

    spark-submit --py-files sdv.zip \
        spanner_data_validator_spark/jobs/recommend_watermark.py \
        --input /data/transcripts --arrival ingest_seq --ts ts \
        --pcts 95,99,100 [--json out.json]

Usage (local): ``python -m spanner_data_validator_spark.jobs.recommend_watermark``
with the same arguments.

Reads a parquet table carrying an arrival-order column (an ingest sequence
number, Kafka offset, or file drop index — anything unique and increasing
in delivery order) and an event-time column, and prints the smallest
whole-second watermark delay retaining each requested percentile of rows
(``operators/lateness.watermark_recommendation`` — distributed prefix
max, exact integer ranks). The output is the number an operator plugs
into ``run_streaming_validation(watermark=...)``, traded against state
size = rate x (watermark + band) (BENCH.md "State store choice").

The reference has no analogue (its batch loop tolerates any disorder);
this closes the loop the streaming tier opens.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="parquet path")
    ap.add_argument("--arrival", required=True,
                    help="unique, delivery-ordered numeric column")
    ap.add_argument("--ts", required=True, help="event-time timestamp column")
    ap.add_argument("--pcts", default="95,99,100",
                    help="comma-separated integer percents")
    ap.add_argument("--n-buckets", type=int, default=1024)
    ap.add_argument("--json", default=None,
                    help="also write the rows to this JSON file")
    ap.add_argument("--master", default=None,
                    help="override master (default: whatever spark-submit set)")
    args = ap.parse_args(argv)

    from spanner_data_validator_spark.session import get_spark
    from spanner_data_validator_spark.operators.lateness import (
        watermark_recommendation,
    )

    pcts = tuple(int(p) for p in args.pcts.split(","))
    spark = get_spark(app_name="sdv-recommend-watermark",
                      **({"master": args.master} if args.master else {}))
    df = spark.read.parquet(args.input)
    rows = [r.asDict() for r in watermark_recommendation(
        df, F.col(args.arrival), F.col(args.ts), pcts=pcts,
        n_buckets=args.n_buckets).collect()]
    for r in rows:
        print(f"p{r['pct']:<3} -> watermark {r['watermark_s']} s "
              f"(retains {r['rows_within']} rows)")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(rows, f, indent=1)
    print("RECOMMEND_RESULT " + json.dumps(rows))


if __name__ == "__main__":
    main(sys.argv[1:])
