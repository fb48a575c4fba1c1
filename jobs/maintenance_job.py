"""spark-submit entrypoint: row-level index maintenance (delete / upsert).

    spark-submit --py-files ir_spark.zip jobs/maintenance_job.py \
        --warehouse <dir> delete --urls-file urls.txt
    spark-submit --py-files ir_spark.zip jobs/maintenance_job.py \
        --warehouse <dir> upsert --pages <path> --bucket 9001 [--lang en]

Reference analogue: single-record delete (vector_db.py:54-58) and
read-modify-write upsert (vector_db.py:61-91), done as bucket-scoped
rewrites. Build the zip with scripts/package.sh.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    sub = ap.add_subparsers(dest="op", required=True)
    d = sub.add_parser("delete")
    d.add_argument("--urls-file", required=True, help="one url per line")
    u = sub.add_parser("upsert")
    u.add_argument("--pages", required=True)
    u.add_argument("--bucket", type=int, required=True)
    u.add_argument("--lang", default="en")
    args = ap.parse_args()

    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators.maintenance import delete_docs, upsert_docs
    from information_retrieval_images_spark.session import get_spark
    from information_retrieval_images_spark.sources.pages import read_pages

    spark = get_spark(app_name=f"ir-maintenance-{args.op}")
    cat = Catalog(spark, args.warehouse)

    if args.op == "delete":
        with open(args.urls_file) as f:
            urls = [line.strip() for line in f if line.strip()]
        res = delete_docs(spark, cat, urls)
    else:
        pages = read_pages(spark, args.pages)
        res = upsert_docs(spark, pages, cat, args.bucket, lang=args.lang)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
