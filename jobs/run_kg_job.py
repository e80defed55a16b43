"""spark-submit entrypoint for the full KG-construction job (north_rule).

Cluster usage (zip the package so executors can import it):

    cd /root/repo && zip -qr /tmp/docprocai_service_spark.zip docprocai_service_spark
    spark-submit --py-files /tmp/docprocai_service_spark.zip \
        jobs/run_kg_job.py \
        --input  <web-pages parquet/iceberg path> \
        --alias  <alias-dict parquet path | 'synthetic'> \
        --output <stage-store root> \
        [--resume]

Sandbox smoke (driver-generated corpus, local master):

    spark-submit --master local[8] jobs/run_kg_job.py \
        --synthetic-pages 5000 --output /tmp/kg_out

Every stage is checkpoint-resumable keyed by (url, warc_ts): kill the job at
any point and re-submitting with --resume converges to byte-identical output
(tests/test_pipeline.py::test_kill_and_resume_reruns_only_missing_stage).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="web_pages table path (parquet)")
    ap.add_argument("--alias", default="synthetic", help="alias dict parquet path or 'synthetic'")
    ap.add_argument("--output", required=True, help="StageStore root directory")
    ap.add_argument("--synthetic-pages", type=int, default=0,
                    help="generate N synthetic pages instead of --input (sandbox)")
    ap.add_argument("--resume", action="store_true", default=True)
    ap.add_argument("--no-resume", dest="resume", action="store_false")
    args = ap.parse_args()

    # Under spark-submit the session is provided by the launcher; the factory
    # config (AQE, Arrow, ICU off) is applied via getOrCreate-time defaults.
    spark = SparkSession.builder.appName("kg_construct").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from docprocai_service_spark import schemas
    from docprocai_service_spark.corpus import alias_dict_pdf, distributed_pages
    from docprocai_service_spark.plans.pipeline import run_pipeline

    if args.synthetic_pages:
        pages = distributed_pages(spark, args.synthetic_pages)
    else:
        pages = spark.read.parquet(args.input)

    if args.alias == "synthetic":
        alias = spark.createDataFrame(alias_dict_pdf(400), schema=schemas.ALIAS_DICT)
    else:
        alias = spark.read.parquet(args.alias)

    # run_pipeline scopes the 256-row fat-scan parquet batch to the two
    # stage writes that actually scan html/extracted text; narrow stage
    # readbacks keep the 4096 default (see session.fat_binary_scan).
    result = run_pipeline(
        spark,
        pages,
        alias,
        out_dir=args.output,
        resume=args.resume,
    )
    print(json.dumps(result.metrics))
    spark.stop()


if __name__ == "__main__":
    main()
