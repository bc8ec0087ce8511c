"""spark-submit entrypoint for the extraction pipeline — the north
rule's launch shape.

Packaging + launch (the --py-files contract):

    cd /root/repo && python -m zipfile -c /tmp/swiftsoup_spark.zip swiftsoup_spark
    spark-submit --master local[8] \\
        --py-files /tmp/swiftsoup_spark.zip \\
        scripts/submit_extract.py \\
        --sf-dir /root/testdata/sf0.01 --output /tmp/extract_out

The zip ships pure Python + the C source; each executor host compiles
the native kernel on first import (hermetic, stdlib headers only, lands
in ~/.cache when the zip mount is read-only) and degrades to the
pure-Python kernel when no compiler exists — so --py-files alone is a
complete deployment. On a real cluster the same invocation changes only
--master/--num-executors; the job itself is resumable (re-running after
a failure recomputes only buckets whose manifest rows are missing).

Prints ONE JSON metrics line on stdout: docs, bytes, wall seconds,
docs/s, MB/s, the order-independent corpus checksum with the row count
it covers, and how many buckets this invocation actually computed
(0 = everything was already done — the idempotence witness).
"""

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True,
                    help="testdata dir with documents.parquet")
    ap.add_argument("--output", required=True,
                    help="output dir (parquet) or catalog table (Iceberg)")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--css-scope", default=None,
                    help="optional #id selector for main-content scoping")
    ap.add_argument("--salt", type=int, default=1,
                    help=">1 splits buckets into sub-tasks for size skew")
    args = ap.parse_args()

    # spark-submit owns master/deploy-mode/executor conf; just attach
    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("swiftsoup-extract").getOrCreate()

    from swiftsoup_spark.spark.pages import pages_df
    from swiftsoup_spark.spark.pipeline import (
        corpus_checksum, done_buckets, run_extraction)

    already = len(done_buckets(spark, args.output))
    pages = pages_df(spark, args.sf_dir)
    t0 = time.time()
    manifest = run_extraction(spark, pages, args.output,
                              n_buckets=args.buckets,
                              css_scope=args.css_scope, salt=args.salt)
    wall = time.time() - t0
    rows = manifest.agg({"row_count": "sum", "byte_count": "sum"}).collect()[0]
    n_docs = int(rows[0] or 0)
    n_bytes = int(rows[1] or 0)
    checksum, row_count = corpus_checksum(spark, args.output)
    print(json.dumps({
        "metric": "html_to_text_extraction",
        "sf_dir": args.sf_dir,
        "output": args.output,
        "n_docs": n_docs,
        "text_mb": round(n_bytes / 1e6, 1),
        "sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "buckets_total": args.buckets,
        "buckets_computed": args.buckets - already,
        "checksum": checksum,
        "row_count": row_count,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
