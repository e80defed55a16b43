"""spark-submit entrypoint for the full KG-construction job (north_rule).

Cluster usage (zip the package so executors can import it):

    cd /root/repo && zip -qr /tmp/docprocai_service_spark.zip docprocai_service_spark
    spark-submit --py-files /tmp/docprocai_service_spark.zip \
        --conf spark.checkpoint.dir=<reliable dir, e.g. hdfs:///tmp/kg_ckpt> \
        --conf spark.cleaner.referenceTracking.cleanCheckpoints=true \
        jobs/run_kg_job.py \
        --input  <web-pages parquet/iceberg path> \
        --alias  <alias-dict parquet path | 'synthetic'> \
        --output <stage-store root>

With spark.checkpoint.dir set, the iterative operators (canonicalization's
connected components) checkpoint their rounds there and survive executor
loss; without it they localCheckpoint. cleanCheckpoints lets Spark delete a
round's checkpoint files once nothing references them (session.get_spark
sets it too; spark-submit's session does not go through get_spark).

Sandbox smoke (driver-generated corpus, local master):

    spark-submit --master local[8] jobs/run_kg_job.py \
        --synthetic-pages 5000 --output /tmp/kg_out

The job is incremental_ingest onto the --output store (plans/pipeline.py),
keyed by (url, warc_ts): kill it at any point and re-submitting the same
command converges to the same stage contents
(tests/test_pipeline.py::test_every_crash_point_converges). Every run is
idempotent: committed pages are skipped, and input pages not yet in the
store are added — never dropped. To recompute from scratch, pass a new
--output.
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

    # the ingest scopes the 256-row fat-scan parquet batch to the actions
    # that scan html/extracted text; narrow stage readbacks keep the 4096
    # default (see session.fat_binary_scan).
    result = run_pipeline(spark, pages, alias, out_dir=args.output)
    print(json.dumps(result.metrics))
    spark.stop()


if __name__ == "__main__":
    main()
