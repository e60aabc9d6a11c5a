"""spark-submit entrypoint for the KG pipeline.

Cluster launch (north_rule shape):

    zip -r ddaugner_spark.zip ddaugner_spark
    spark-submit --master <cluster> \
        --py-files ddaugner_spark.zip \
        tools/run_pipeline.py --sf-dir <pages dir> --out <triples dir> [--resume]

In this sandbox the same command runs with --master local[N].  The
script prints the run report JSON (per-stage rows/sec metrics) and exits
non-zero if any partition failed to produce a manifest.
"""

from __future__ import annotations

import argparse
import os
import sys

# direct `python tools/run_pipeline.py` puts tools/ (not the repo root)
# on sys.path; under spark-submit the --py-files zip provides the package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--partition-col", default="lang")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("ddaugner_kg_pipeline")
        # Python workers import the package's Arrow kernels by module
        # path; on a direct run the checkout is where they find it
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from ddaugner_spark.plans.pipeline import KGPipeline
    from ddaugner_spark.sources import synthesize_pages

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    pages = synthesize_pages(docs)
    pipe = KGPipeline(spark, args.out, partition_col=args.partition_col)
    report = pipe.run(pages, resume=args.resume)
    print(report.to_json())

    done = set(pipe.finished_partitions())
    expected = set(report.partitions) | set(report.skipped_partitions)
    spark.stop()
    return 0 if expected <= done else 1


if __name__ == "__main__":
    sys.exit(main())
