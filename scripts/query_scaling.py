"""Query-throughput N-vs-4N scaling: a batch of deterministic BM25
queries over a PREBUILT index via search_many, pinned to its distributed
tier (one plan for the whole batch — the dispatch floor amortizes across
the set, so this measures executor-side query scaling, not per-job
submission cost; a small batch would otherwise be scored on the driver).

Usage:
  spark-submit --master local[8] --driver-memory 16g \
      --py-files BENCH/dist.zip scripts/query_scaling.py \
      --cores 8 --index-root /tmp/ck_qscale_idx [--build \
      --corpus-path /tmp/ck_corpus_480k] [--n-queries 400]

--build constructs the index first (once; query runs at every level then
REUSE it — the index is level-independent, and every level must produce
the identical results hash). Queries are derived deterministically from
the index's own term_stats table (top-df terms, fixed mixing pattern of
1/2/3-term or/and queries), so the set is identical at every level.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--index-root", required=True)
    ap.add_argument("--corpus-path", default=None)
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--n-queries", type=int, default=400)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-segments", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ck_spark.session import _pin_malloc_env

    _pin_malloc_env()

    spark = (
        SparkSession.builder.appName(f"ck-qscale-{args.cores}")
        .master(f"local[{args.cores}]")
        .config("spark.sql.shuffle.partitions", str(max(args.cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.task.maxFailures", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.build:
        from ck_spark.index import build_index

        corpus = spark.read.parquet(args.corpus_path)
        build_index(
            spark, corpus, args.index_root, mode="code",
            n_segments=args.n_segments, term_buckets=16, build_groups=1,
            resume=False,
        )

    from pyspark.sql import functions as F

    from ck_spark.query import BM25Index, bm25

    idx = BM25Index.load(spark, args.index_root)

    # deterministic query set from the index's own term stats: order by
    # (df desc, term asc) is total, so every level derives the same list.
    # term_stats_path resolves the LIVE term dict (an LSM-updated index
    # redirects it to delta/term_stats_gen_K via meta).
    from ck_spark.index.lsm import term_stats_path

    terms = [
        r["term"]
        for r in spark.read.parquet(term_stats_path(args.index_root, idx.meta))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(3000)
        .collect()
    ]
    n = len(terms)
    queries: list[tuple[str, str]] = []
    for i in range(args.n_queries):
        t1 = terms[(i * 17 + 3) % n]
        t2 = terms[(i * 101 + 29) % n]
        t3 = terms[(i * 211 + 7) % n]
        kind = i % 4
        if kind == 0:
            queries.append((t1, "or"))
        elif kind == 1:
            queries.append((f"{t1} {t2}", "or"))
        elif kind == 2:
            queries.append((f"{t1} {t2}", "and"))
        else:
            queries.append((f"{t1} {t2} {t3}", "or"))

    # warmup: python workers + codegen + term-dict load
    idx.search_query(terms[0], k=5).collect()

    bm25.LOCAL_POSTINGS_MAX = -1  # executor-side scaling: distributed tier
    t0 = time.time()
    rows = idx.search_many(queries, k=args.k).collect()
    wall = time.time() - t0

    h = hashlib.sha256()
    for r in rows:
        h.update(f"{r['query_id']}|{r['doc_id']}|{r['score']:.9f}\n".encode())

    out = {
        "cores": args.cores,
        "n_queries": len(queries),
        "k": args.k,
        "batch_wall_s": round(wall, 2),
        "queries_per_sec": round(len(queries) / wall, 1),
        "result_rows": len(rows),
        "results_sha256": h.hexdigest(),
    }
    print("QUERY_SCALING_RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
