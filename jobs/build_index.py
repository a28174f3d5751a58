"""spark-submit job: build (or resume) the compressed inverted index.

    spark-submit --py-files sifter_pkg.zip jobs/build_index.py \
        --input  /path/to/pages_parquet \
        --output /path/to/index_dir \
        [--buckets 64] [--id-col doc_id] [--text-col text] \
        [--html] [--fields title,content] [--max-buckets N] \
        [--positional-output /path/to/pos_index_dir [--pos-buckets 64]]

``--positional-output``: ALSO write the positional index (phrase /
slop / NEAR / prefix / wildcard / fuzzy / bool serving tier) from the
same cleaned corpus in the same submit. It is the main index format plus
a ``poss`` column, so it also serves plain BM25.

``--html``: extract text from the ``html`` binary column first (the
byte-identical reference cleaning pipeline). ``--fields``: concatenate the
reference's searchField list into the indexed text. Runs unchanged at any
``--master`` / executor count; resume is automatic from the output dir's
manifest (north-rule checkpoint semantics).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--input-option", action="append", default=None,
                    help="reader option key=value for --input (repeatable); "
                         "e.g. Iceberg snapshot-id=... / as-of-timestamp=...")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--html", action="store_true", help="extract from html binary column")
    ap.add_argument("--fields", default=None, help="comma list of searchField columns to concat")
    ap.add_argument("--max-buckets", type=int, default=None, help="fault-injection / partial run")
    ap.add_argument("--positional-output", default=None,
                    help="also write the positional index (structured query tier) here")
    ap.add_argument("--pos-buckets", type=int, default=None,
                    help="positional index bucket modulus (default: TERM_BUCKETS)")
    args = ap.parse_args(argv)

    from sifter_mrc_search_engine_spark.functions.cleaning import extract_html_udf
    from sifter_mrc_search_engine_spark.operators.index_build import combine_search_fields
    from sifter_mrc_search_engine_spark.plans.checkpoint import build_index_resumable
    from sifter_mrc_search_engine_spark.sources.tables import (
        parse_reader_options,
        read_corpus,
    )

    spark = SparkSession.builder.getOrCreate()
    docs = read_corpus(spark, args.input, parse_reader_options(args.input_option))
    text_col = args.text_col
    if args.html:
        docs = docs.withColumn("text", extract_html_udf(F.col("html")))
        text_col = "text"
    elif args.fields:
        docs = combine_search_fields(docs, args.fields.split(","), out_col="text")
        text_col = "text"
    # pages corpora keyed by url get a stable synthetic id (nonnegative so
    # dense norms arrays and doc-range salting behave; collision odds at
    # 2^62 are negligible below ~10^9 docs — at larger scale assign ids
    # via zipWithIndex-style enumeration upstream)
    if args.id_col not in docs.columns:
        docs = docs.withColumn(args.id_col, F.pmod(F.xxhash64("url"), F.lit(1 << 62)))

    summary = build_index_resumable(
        docs, args.output, id_col=args.id_col, text_col=text_col,
        buckets=args.buckets, max_buckets_this_run=args.max_buckets,
    )
    if args.positional_output:
        from sifter_mrc_search_engine_spark.constants import TERM_BUCKETS
        from sifter_mrc_search_engine_spark.operators.positional import (
            write_positional_index,
        )

        pos_stats = write_positional_index(
            docs, args.positional_output, id_col=args.id_col,
            text_col=text_col, buckets=args.pos_buckets or TERM_BUCKETS,
        )
        summary = {**summary, "positional": pos_stats}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
