"""CLI entry point (reference etl_pipeline/cli.py:8-32).

Same argument surface plus sink knobs. Default sink is parquet
(``--output-dir``) so a run works with no database; ``--jdbc`` switches
to the Postgres path (DDL bootstrap + batched writes). The session
comes from ``session.get_spark``, so a CLI run has the same UTC,
non-ANSI and LTZ-timestamp settings as the tests; it runs on
``local[N]`` with N = ``SPARK_GRAFT_CPUS`` (default: all cores) and
``SPARK_DRIVER_MEMORY`` (default 16g).

    python -m etl_pipeline_from_mongo_json_to_postgre_spark.cli \
        --input Data/input.json --mapping-config config/mapping.yaml \
        --output-dir out/
"""

from __future__ import annotations

import argparse
import sys

from .errors import ConfigError, InputError, LoadError


def parse_args(argv=None):
    parser = argparse.ArgumentParser(
        description="Configurable JSON to PostgreSQL ETL pipeline (PySpark engine)"
    )
    parser.add_argument("--input", required=True, help="Path to input JSON file.")
    parser.add_argument("--app-config", help="Path to application config file.")
    parser.add_argument("--mapping-config", required=True,
                        help="Path to mapping config file.")
    parser.add_argument("--output-dir", default="out",
                        help="Parquet output directory (default sink).")
    parser.add_argument("--jdbc", action="store_true",
                        help="Write to Postgres via JDBC instead of parquet.")
    return parser.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        from .pipeline import format_summary, run, write_run_jdbc, write_run_parquet
        from .session import get_spark

        spark = get_spark(app_name="etl-pipeline-spark")
        result = run(spark, args.input, args.mapping_config, args.app_config)
        if args.jdbc:
            write_run_jdbc(spark, result)
        else:
            write_run_parquet(result, args.output_dir)
        print(format_summary(result.summary()))
        return 0
    except (ConfigError, InputError, LoadError) as exc:
        print(f"Pipeline error: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
