"""spark-submit entrypoint for the full KG-construction job (north_rule).

Cluster usage (zip the package so executors can import it):

    cd /root/repo && zip -qr /tmp/docprocai_service_spark.zip docprocai_service_spark
    spark-submit --py-files /tmp/docprocai_service_spark.zip \
        --conf spark.checkpoint.dir=<reliable dir, e.g. hdfs:///tmp/kg_ckpt> \
        jobs/run_kg_job.py \
        --input  <web-pages parquet/iceberg path> \
        --alias  <alias-dict parquet path | 'synthetic'> \
        --output <stage-store root> \
        [--no-resume]

With spark.checkpoint.dir set, the iterative operators (canonicalization's
connected components) checkpoint their rounds there and survive executor
loss; without it they localCheckpoint.

Sandbox smoke (driver-generated corpus, local master):

    spark-submit --master local[8] jobs/run_kg_job.py \
        --synthetic-pages 5000 --output /tmp/kg_out

Every stage is checkpoint-resumable keyed by (url, warc_ts): kill the job at
any point and re-submitting the same command converges to byte-identical
output (tests/test_pipeline.py::test_kill_and_resume_reruns_only_missing_stage).
Resuming is the default; --no-resume recomputes every stage.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def session() -> SparkSession:
    """The session spark-submit provides (its --master, --conf and resources
    stand), with the package's runtime SQL settings applied on top.
    session.get_spark is not used here: its .master() would override
    spark-submit's --master."""
    from docprocai_service_spark.session import SQL_CONF

    spark = SparkSession.builder.appName("kg_construct").getOrCreate()
    for k, v in SQL_CONF.items():
        spark.conf.set(k, v)
    return spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="web_pages table path (parquet)")
    ap.add_argument("--alias", default="synthetic", help="alias dict parquet path or 'synthetic'")
    ap.add_argument("--output", required=True, help="StageStore root directory")
    ap.add_argument("--synthetic-pages", type=int, default=0,
                    help="generate N synthetic pages instead of --input (sandbox)")
    ap.add_argument("--resume", action=argparse.BooleanOptionalAction, default=True,
                    help="skip stages already committed in --output (default)")
    args = ap.parse_args()

    spark = session()

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
