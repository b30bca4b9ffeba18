"""The reference's main entry point re-expressed: generate or validate.

Mirrors JDBCToSpannerDVTWithHash.runDVT (JDBCToSpannerDVTWithHash.java:852-880):

* ``--generate-table-spec``: resolve specs (session file and/or tablespec
  JSON, tablespec-wins-per-table precedence) and WRITE them to a JSON file,
  then exit — the spec-authoring workflow. The reference names the output
  ``{spannerDatabaseId}-tableSpec-{millis}.json``; here ``--output-spec``
  names it explicitly (deterministic > timestamped).
* otherwise: validate every resolved spec over JDBC (per-range bound reads →
  fingerprint → classify → tally, jobs/query_spec_runner) and write the
  combined ComparerResult table to ``--out``.

Usage (cluster; spark-submit takes the job's script path)::

    spark-submit --py-files sdv.zip spanner_data_validator_spark/jobs/run_dvt.py \\
        --session-file session.json --table-spec-json overrides.json \\
        --source-url jdbc:mysql://... --target-url jdbc:... --out /path/report

Usage (local): ``python -m spanner_data_validator_spark.jobs.run_dvt`` with
the same arguments.
"""

from __future__ import annotations

import argparse
import os

from spanner_data_validator_spark.sources.tablespec import (
    generate_table_specs,
    specs_to_json_file,
)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--table-spec-json", default=None,
                    help="reference-shaped TableSpec JSON file")
    ap.add_argument("--session-file", default=None,
                    help="HarbourBridge session JSON (spec generation input)")
    ap.add_argument("--generate-table-spec", action="store_true",
                    help="write resolved specs to --output-spec and exit")
    ap.add_argument("--output-spec", default=None,
                    help="output path for --generate-table-spec")
    ap.add_argument("--partition-count", type=int, default=100)
    ap.add_argument("--partition-filter-ratio", type=int, default=-1)
    ap.add_argument("--include-backticks", action="store_true")
    ap.add_argument("--custom-transformation", action="store_true")
    ap.add_argument("--source-url", default=None)
    ap.add_argument("--target-url", default=None)
    ap.add_argument("--out", default=None, help="report output directory")
    ap.add_argument("--run-name", default="run")
    ap.add_argument("--algo", choices=["xxhash64", "sha256"], default="xxhash64")
    return ap


def resolve_specs(args):
    return generate_table_specs(
        table_spec_json=args.table_spec_json,
        session_file_json=args.session_file,
        generate=args.generate_table_spec or bool(args.session_file),
        partition_count=args.partition_count,
        partition_filter_ratio=args.partition_filter_ratio,
        custom_transformation=args.custom_transformation,
        backticks=args.include_backticks,
    )


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    if args.generate_table_spec and not args.session_file:
        # reference parity: generate mode requires the session file
        raise SystemExit(
            "Session file needs to be provided to generate the tableSpec from it!")
    specs = resolve_specs(args)

    if args.generate_table_spec:
        out = args.output_spec or "tableSpec.json"
        specs_to_json_file(specs, out)
        print(f"TableSpec has been written to {out}")
        return

    if not (args.source_url and args.target_url and args.out):
        raise SystemExit("--source-url, --target-url and --out are required "
                         "for validation mode")

    from functools import reduce

    from pyspark.sql import DataFrame

    from spanner_data_validator_spark.jobs.query_spec_runner import (
        validate_query_spec,
    )
    from spanner_data_validator_spark.session import get_spark

    spark = get_spark(app_name="sdv-run-dvt")
    reports = [validate_query_spec(spark, s, args.source_url, args.target_url,
                                   algo=args.algo, run_name=args.run_name)
               for s in specs]
    report = reduce(DataFrame.unionByName, reports)
    out_path = os.path.join(args.out, "report")
    report.write.mode("overwrite").parquet(out_path)
    # display from the just-written parquet — showing the lazy plan would
    # re-execute every per-range JDBC scan of both databases
    spark.read.parquet(out_path).orderBy("table_or_query", "range") \
        .show(100, truncate=False)


if __name__ == "__main__":
    main()
