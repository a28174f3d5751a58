"""spark-submit job: serve the HTTP inference front door over a built index.

    spark-submit --py-files sifter_pkg.zip jobs/serve_http.py \
        --index /path/to/index_dir [--port 8000] \
        [--meta /path/to/docmeta.parquet] [--preload] \
        [--positional-index /path/to/pos_index_dir]

Routes (reference: modules/mrc_service/server.py):
  GET  /inference?question=&top_k=&doc_page_size=&domain=
  POST /inference            (JSON body, same parameters)
  POST /inference/file       (multipart: question + file)
  POST /search/structured    (phrase/slop/near/prefix/wildcard/fuzzy/bool
                              — only when --positional-index is given)

``--meta`` points at a parquet of (doc_id, DOCID, title, url, content)
document metadata for the answer back-join; ``--preload`` pulls postings
into driver memory for sub-ms routing (serving-head mode).
"""

from __future__ import annotations

import argparse
import signal

from pyspark.sql import SparkSession


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--port", type=int, default=8000)
    ap.add_argument("--meta", default=None)
    ap.add_argument("--preload", action="store_true")
    ap.add_argument("--positional-index", default=None,
                    help="positional index dir: enables POST /search/structured")
    args = ap.parse_args(argv)

    from sifter_mrc_search_engine_spark.plans.http_service import HttpFrontDoor
    from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
    from sifter_mrc_search_engine_spark.plans.service import InferenceService

    spark = SparkSession.builder.getOrCreate()
    searcher = IndexSearcher(spark, args.index, preload=args.preload)
    meta = None
    if args.meta:
        meta = {
            int(r["doc_id"]): {
                k: r[k] for k in ("DOCID", "title", "url", "content") if k in r
            }
            for r in spark.read.parquet(args.meta).collect()
        }
    structured = None
    if args.positional_index:
        from sifter_mrc_search_engine_spark.plans.structured import (
            StructuredSearchService,
        )

        structured = StructuredSearchService(spark, args.positional_index)
    door = HttpFrontDoor(
        InferenceService(searcher, meta), port=args.port, structured=structured
    ).start()
    print(f"serving on http://127.0.0.1:{door.port} (ctrl-c to stop)", flush=True)
    stop = []
    signal.signal(signal.SIGTERM, lambda *a: stop.append(1))
    try:
        signal.pause()
    except KeyboardInterrupt:
        pass
    finally:
        door.stop()
        spark.stop()


if __name__ == "__main__":
    main()
