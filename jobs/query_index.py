"""spark-submit job: serve BM25 top-k queries from a built index.

    spark-submit --py-files sifter_pkg.zip jobs/query_index.py \
        --index /path/to/index_dir --question "..." [--top-k 10] \
        [--batch-file questions.txt]

Single question -> one JSON line of answers (the reference's /inference
response shape). ``--batch-file`` scores one question per line via the
driver batch path (one pruned scan for the whole file) and prints one JSON
line each.
"""

from __future__ import annotations

import argparse
import json
from pathlib import Path

from pyspark.sql import SparkSession


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--question", default=None)
    ap.add_argument("--top-k", type=int, default=10)
    ap.add_argument("--batch-file", default=None)
    args = ap.parse_args(argv)

    from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
    from sifter_mrc_search_engine_spark.plans.service import InferenceService

    spark = SparkSession.builder.getOrCreate()
    searcher = IndexSearcher(spark, args.index)
    if args.batch_file:
        questions = [q for q in Path(args.batch_file).read_text().splitlines() if q.strip()]
        out = searcher.search_many(questions, top_k=args.top_k).collect()
        by_q: dict[int, list] = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(
                {"rank": r["rank"], "doc_id": r["doc_id"], "score": r["score"]}
            )
        for i, q in enumerate(questions):
            print(json.dumps({"question": q, "answers": sorted(by_q.get(i, []), key=lambda a: a["rank"])}))
    else:
        if not args.question:
            raise SystemExit("--question or --batch-file required")
        svc = InferenceService(searcher)
        print(json.dumps(svc.inference(args.question, top_k=args.top_k)))


if __name__ == "__main__":
    main()
