"""End-to-end ETL entry point: the reference's ``CompleteETL`` DAG as
one command.

Reference shape (SURVEY.md section 3 EP1): 4 CSV re-reads -> 11 Airflow
TaskGroups -> per-row transforms -> one INSERT per row into MSSQL,
JSON/XCom at every edge. Here: one cached scan -> 15 lazy builders ->
15 parquet writes; the only materializations are the sinks.

    python -m formula1_etl_analytics_project_spark.etl --input wide.csv --out /data/star

Scale notes: each table's write is an independent Spark job off the
shared cached scan; on a cluster the scan caches once across executors
and the writes parallelize. At 100 TB the fact writes would pass
``partition_by=['year']`` (see sources.sinks.write_parquet and the
partition-pruning plan test).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

from formula1_etl_analytics_project_spark.plans.star import BUILDERS
from formula1_etl_analytics_project_spark.session import get_spark
from formula1_etl_analytics_project_spark.sources.readers import read_wide_csv
from formula1_etl_analytics_project_spark.sources.sinks import write_parquet

def run_etl(
    spark: SparkSession,
    input_csv: str,
    out_dir: str,
    register: bool = True,
) -> dict[str, int]:
    """Wide CSV -> 15 star-schema parquet tables. Returns row counts
    per table (the write is the only action per table). With
    ``register`` the written tables are exposed as temp views so
    ``spark.sql`` works immediately (EP3 surface). Tables load in
    ``BUILDERS`` order, the reference's FK-safe load order (dims -> hub
    -> facts, CompleteETL.py:1034-1042)."""
    wide = read_wide_csv(spark, input_csv).cache()
    counts: dict[str, int] = {}
    for name in BUILDERS:
        df = BUILDERS[name](wide)
        path = f"{out_dir}/{name}"
        write_parquet(df, path, mode="overwrite")
        loaded = spark.read.parquet(path)
        counts[name] = loaded.count()
        if register:
            loaded.createOrReplaceTempView(name)
    wide.unpersist()
    return counts


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="wide F1 CSV -> star-schema parquet")
    p.add_argument("--input", required=True, help="wide denormalized CSV path")
    p.add_argument("--out", required=True, help="output directory for star tables")
    p.add_argument(
        "--sql",
        default=None,
        help="optional SQL to run over the loaded star views (printed)",
    )
    args = p.parse_args(argv)
    spark = get_spark(app_name="formula1-etl")
    counts = run_etl(spark, args.input, args.out)
    for name in BUILDERS:
        print(f"{name}: {counts[name]} rows")
    if args.sql:
        spark.sql(args.sql).show(50, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
